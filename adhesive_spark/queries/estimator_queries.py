"""Estimation & infrastructure-calibration queries (q359+): the
closed-form estimators and self-audits a 100 TB pipeline runs to price
its own machinery — species-richness extrapolation (Chao1), Kish
effective sample size of importance weights, total-variation distance
between source token distributions (the log-free drift sibling of
KL/PSI), source-concentration indices (HHI / inverse Simpson),
Bloom-filter geometry ladders, consistent-hash resharding churn,
Wald–Wolfowitz ingest-order randomness, n-gram novelty, scorer lift
tables, Johnson–Lindenstrauss distortion, user-contribution bounding
for DP preprocessing, hash-uniformity chi-square, decile-PSI population
stability, median-of-means robustness, and birthday-bound collision
audits for dedup-key sizing.

House conventions (identical to queries/metrology_queries.py): exact
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
    _FP,
    _NORM,
    _TOKS,
    _h32,
    _quality_sql,
    _shingles,
)
from adhesive_spark.sources.registry import checkpoint_corpus, load_table

ESTIMATOR_QUERIES: dict = {}
ESTIMATOR_ORACLES: dict = {}


# --- q359: Chao1 vocabulary-richness estimator --------------------------------


def q359_chao1_richness(spark, sf_dir):
    """Chao1 species-richness estimate of each source's TRUE vocabulary
    size (Chao 1984; bias-corrected form Ŝ = S_obs + f₁(f₁−1)/(2(f₂+1)))
    plus the Turing sample-coverage estimate Ĉ = 1 − f₁/n. Where q336
    prices the unseen probability MASS, this extrapolates the unseen
    TYPE count — the "how much vocabulary have we not ingested yet?"
    readout that decides whether crawling a source further still buys
    new tokens. Everything integer: f₁/f₂ are exact frequency-of-
    frequency counts; the correction divides once.

    Scale shape: one corpus pass collapses to (source, token) counts;
    richness is a per-source aggregate over that collapsed table.
    """
    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    cnt = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    per = cnt.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("s_obs"),
        F.count_if(F.col("c") == 1).cast("long").alias("f1"),
        F.count_if(F.col("c") == 2).cast("long").alias("f2"),
    )
    return per.select(
        "source",
        "n_tokens",
        "s_obs",
        "f1",
        "f2",
        F.expr(
            "CAST(s_obs + (f1 * (f1 - 1)) div (2 * (f2 + 1)) AS BIGINT)"
        ).alias("chao1"),
        F.expr(
            "CAST((n_tokens - f1) * 1000000 div greatest(n_tokens, 1)"
            " AS BIGINT)"
        ).alias("coverage_ppm"),
    ).orderBy("source")


ESTIMATOR_QUERIES["q359_chao1_richness"] = q359_chao1_richness

ESTIMATOR_ORACLES["q359_chao1_richness"] = f"""
    WITH tok AS (
      SELECT source, UNNEST({_TOKS}) AS w FROM documents
    ),
    cnt AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    ),
    per AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS s_obs,
             CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS f1,
             CAST(COUNT(*) FILTER (WHERE c = 2) AS BIGINT) AS f2
      FROM cnt GROUP BY source
    )
    SELECT source, n_tokens, s_obs, f1, f2,
           CAST(s_obs + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT)
             AS chao1,
           CAST((n_tokens - f1) * 1000000 // GREATEST(n_tokens, 1)
                AS BIGINT) AS coverage_ppm
    FROM per ORDER BY source
"""


# --- q360: Kish effective sample size of importance weights -------------------


def q360_kish_ess(spark, sf_dir):
    """Kish effective sample size of per-document importance weights
    (Kish 1965: ESS = (Σw)²/Σw²), with document length standing in for
    the importance weight — exactly the degradation a length-weighted
    (token-proportional) sampler pays per source. ess_milli is ESS×1000;
    ess_share_ppm = ESS/n says what fraction of the source's nominal
    sample size survives the weighting — the number that decides whether
    a weighted mixture needs MORE raw documents to hit a variance
    target. Integer-exact: (Σw)² and Σw² are integer; division last with
    DECIMAL(38,0) headroom on the square of the sum.

    Scale shape: one aggregate per source over (w, w²) partial sums —
    a single map-side-combined pass, output is 20 rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sw"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("sww"),
    )
    return per.select(
        "source",
        "n_docs",
        "sw",
        "sww",
        F.expr(
            "CAST(CAST(sw AS DECIMAL(38,0)) * sw * 1000"
            " div greatest(sww, 1) AS BIGINT)"
        ).alias("ess_milli"),
        F.expr(
            "CAST(CAST(sw AS DECIMAL(38,0)) * sw * 1000000"
            " div greatest(CAST(sww AS DECIMAL(38,0)) * n_docs, 1)"
            " AS BIGINT)"
        ).alias("ess_share_ppm"),
    ).orderBy("source")


ESTIMATOR_QUERIES["q360_kish_ess"] = q360_kish_ess

ESTIMATOR_ORACLES["q360_kish_ess"] = """
    WITH per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sw,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS sww
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, sw, sww,
           CAST(CAST(sw AS HUGEINT) * sw * 1000
                // GREATEST(sww, 1) AS BIGINT) AS ess_milli,
           CAST(CAST(sw AS HUGEINT) * sw * 1000000
                // GREATEST(CAST(sww AS HUGEINT) * n_docs, 1)
                AS BIGINT) AS ess_share_ppm
    FROM per ORDER BY source
"""


# --- q361: total-variation distance between source token distributions --------


def q361_tv_distance(spark, sf_dir):
    """Pairwise total-variation distance between source unigram
    distributions: TV(P,Q) = ½·Σ_w |p_w − q_w| — the log-free,
    integer-exact drift metric (KL and PSI need logarithms; TV bounds
    them both and never diverges on disjoint support). Reported for the
    top-scoring pairs: the "which two sources are really the same
    crawl?" / "which mixture components are redundant?" readout.
    Cross-multiplied form keeps it exact: Σ|c_a·N_b − c_b·N_a| over the
    union vocabulary, divided ONCE by 2·N_a·N_b.

    Scale shape: the corpus collapses to (source, token) counts in one
    pass (checkpointed); per-token source vectors come from ONE more
    aggregate (map_from_entries); the pair term is |pairs| × vocab rows
    against a broadcast 190-row pair spine — never corpus × corpus.
    """
    return tv_distance_report(load_table(spark, sf_dir, "documents"))


def tv_distance_report(docs):
    """DF-level core of q361 (any documents DataFrame with source/text)
    — shared with the stress harness (replication-invariant collapsed
    (source, token) contract)."""
    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(docs)
    cnt = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
        .transform(checkpoint_corpus)
    )
    totals = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    # 190-row pair spine (20 sources), broadcast everywhere
    pairs = (
        totals.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
        .join(
            totals.select(
                F.col("source").alias("src_b"), F.col("n").alias("n_b")
            ),
            F.col("src_a") < F.col("src_b"),
        )
    )
    # one vector row per token: map source -> count
    vec = cnt.groupBy("w").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("source"), F.col("c")))
        ).alias("m")
    )
    terms = vec.crossJoin(F.broadcast(pairs)).select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        F.expr(
            "abs(CAST(coalesce(m[src_a], 0) AS DECIMAL(38,0)) * n_b"
            " - CAST(coalesce(m[src_b], 0) AS DECIMAL(38,0)) * n_a)"
        ).alias("num"),
        F.expr(
            "CAST(coalesce(m[src_a], 0) > 0 OR coalesce(m[src_b], 0) > 0"
            " AS LONG)"
        ).alias("in_union"),
    )
    tv = (
        terms.groupBy("src_a", "src_b", "n_a", "n_b")
        .agg(
            F.sum("num").alias("num"),
            F.sum("in_union").cast("long").alias("union_vocab"),
        )
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "union_vocab",
            F.expr(
                "CAST(num * 1000000"
                " div (2 * CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("tv_ppm"),
        )
    )
    # top-20 most-divergent pairs, deterministic tie-break
    return tv.orderBy(
        F.desc("tv_ppm"), F.asc("src_a"), F.asc("src_b")
    ).limit(20)


ESTIMATOR_QUERIES["q361_tv_distance"] = q361_tv_distance

ESTIMATOR_ORACLES["q361_tv_distance"] = f"""
    WITH tok AS (
      SELECT source, UNNEST({_TOKS}) AS w FROM documents
    ),
    cnt AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    ),
    totals AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY source
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             a.n AS n_a, b.n AS n_b
      FROM totals a JOIN totals b ON a.source < b.source
    ),
    vocab AS (SELECT DISTINCT w FROM cnt),
    grid AS (
      SELECT p.src_a, p.src_b, p.n_a, p.n_b, v.w,
             COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb
      FROM pairs p CROSS JOIN vocab v
      LEFT JOIN cnt ca ON ca.source = p.src_a AND ca.w = v.w
      LEFT JOIN cnt cb ON cb.source = p.src_b AND cb.w = v.w
    ),
    tv AS (
      SELECT src_a, src_b, n_a, n_b,
             CAST(SUM(CASE WHEN ca > 0 OR cb > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS union_vocab,
             SUM(ABS(CAST(ca AS HUGEINT) * n_b
                     - CAST(cb AS HUGEINT) * n_a)) AS num
      FROM grid GROUP BY src_a, src_b, n_a, n_b
    )
    SELECT src_a, src_b, n_a, n_b, union_vocab,
           CAST(num * 1000000 // (2 * CAST(n_a AS HUGEINT) * n_b)
                AS BIGINT) AS tv_ppm
    FROM tv
    ORDER BY tv_ppm DESC, src_a ASC, src_b ASC
    LIMIT 20
"""


# --- q362: source-concentration indices (HHI / inverse Simpson) ---------------


def q362_source_concentration(spark, sf_dir):
    """Source-mix concentration per language: Herfindahl–Hirschman index
    in ppm (Σ share²), the inverse-Simpson EFFECTIVE number of sources
    (×1000) it implies, and the top source's share — the "is this
    language really diversified, or one crawl wearing twenty names?"
    readout that decides deduplication priorities and mixture caps
    before a 100 TB ingest. Integer-exact: HHI_ppm = Σc²·10⁶ / N²,
    effective sources = N²·1000 / Σc², division last.

    Scale shape: one (lang, source) count aggregate, then a 5-row
    per-language rollup. Nothing touches the corpus twice.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("c")
    )
    per = cells.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_sources"),
        F.max("c").cast("long").alias("top_c"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sc2"),
    )
    return per.select(
        "lang",
        "n_docs",
        "n_sources",
        F.expr("CAST(top_c * 1000000 div n_docs AS BIGINT)").alias(
            "top_share_ppm"
        ),
        F.expr(
            "CAST(CAST(sc2 AS DECIMAL(38,0)) * 1000000"
            " div (CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)"
        ).alias("hhi_ppm"),
        F.expr(
            "CAST(CAST(n_docs AS DECIMAL(38,0)) * n_docs * 1000"
            " div greatest(sc2, 1) AS BIGINT)"
        ).alias("eff_sources_milli"),
    ).orderBy("lang")


ESTIMATOR_QUERIES["q362_source_concentration"] = q362_source_concentration

ESTIMATOR_ORACLES["q362_source_concentration"] = """
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY lang, source
    ),
    per AS (
      SELECT lang,
             CAST(SUM(c) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_sources,
             CAST(MAX(c) AS BIGINT) AS top_c,
             CAST(SUM(c * c) AS BIGINT) AS sc2
      FROM cells GROUP BY lang
    )
    SELECT lang, n_docs, n_sources,
           CAST(top_c * 1000000 // n_docs AS BIGINT) AS top_share_ppm,
           CAST(CAST(sc2 AS HUGEINT) * 1000000
                // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT)
             AS hhi_ppm,
           CAST(CAST(n_docs AS HUGEINT) * n_docs * 1000
                // GREATEST(sc2, 1) AS BIGINT) AS eff_sources_milli
    FROM per ORDER BY lang
"""


# --- q363: Bloom-filter geometry ladder ----------------------------------------

#: (m_bits, k) grid — small enough that every bit table broadcasts, wide
#: enough to span under- and over-provisioned filters.
_BF_GRID = ((4096, 2), (4096, 4), (16384, 2), (16384, 4), (65536, 2), (65536, 4))
_BF_PROBES = 5000


def q363_bloom_geometry(spark, sf_dir):
    """Bloom-filter geometry ladder: for each (m bits, k hashes) cell,
    BUILD the filter over the corpus's distinct fingerprints with k
    portable hash functions, PROBE it with 5 000 deterministic
    non-member keys, and ship the measured false-positive rate next to
    the fill-factor prediction FPR ≈ fill^k — the q327/q328 (HLL/CMS)
    precision-ladder sibling for the third workhorse sketch. This is
    the "how many bits does the 100 TB dedup pre-filter actually need?"
    readout (q258 runs ONE geometry in anger; this prices the knob), and
    measuring instead of formula-reading catches exactly the failures
    formulas hide: correlated hash functions, saturated fills.

    Scale shape: members collapse to distinct fingerprints once; each
    bit table is ≤ m rows BY CONSTRUCTION (distinct positions), so the
    probe side joins a broadcast; probes never see the corpus.
    """
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    # collapsed member set feeds THREE consumers (bits, n_mem) — pin it
    fps = (
        docs.select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .transform(checkpoint_corpus)
    )
    geoms = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).cast("long").alias("m"),
                        F.lit(k).cast("long").alias("k"),
                    )
                    for m, k in _BF_GRID
                ]
            )
        ).alias("g")
    ).select("g.m", "g.k")

    def _pos(key_col):
        # hash h of key -> bit position in [0, m)
        return F.pmod(
            portable_hash32(
                F.concat(
                    F.lit("bf"),
                    F.col("h").cast("string"),
                    F.lit(":"),
                    key_col,
                )
            ),
            F.col("m"),
        )

    hspine = F.explode(F.sequence(F.lit(1), F.col("k"))).alias("h")
    bits = (
        fps.crossJoin(F.broadcast(geoms))
        .select("m", "k", "fp", hspine)
        .select("m", "k", _pos(F.col("fp")).alias("pos"))
        .distinct()
        # ≤ Σm rows by construction; reused by fill AND the probe join
        .localCheckpoint(eager=True)
    )
    fill = bits.groupBy("m", "k").agg(
        F.count("*").cast("long").alias("bits_set")
    )
    probes = spark.range(_BF_PROBES).select(
        F.md5(F.concat(F.lit("probe:"), F.col("id").cast("string"))).alias(
            "pf"
        )
    )
    hits = (
        probes.crossJoin(F.broadcast(geoms))
        .select("m", "k", "pf", hspine)
        .select("m", "k", "pf", _pos(F.col("pf")).alias("pos"))
        .join(
            F.broadcast(bits.select("m", "k", "pos", F.lit(1).alias("hit"))),
            ["m", "k", "pos"],
            "left",
        )
        .groupBy("m", "k", "pf")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"))
    )
    fpr = hits.groupBy("m", "k").agg(
        F.count("*").cast("long").alias("n_probes"),
        F.count_if(F.col("n_hit") == F.col("k")).cast("long").alias(
            "false_pos"
        ),
    )
    n_mem = fps.agg(F.count("*").cast("long").alias("n_members"))
    return (
        fill.join(fpr, ["m", "k"])
        .crossJoin(F.broadcast(n_mem))
        .select(
            F.col("m").alias("m_bits"),
            "k",
            "n_members",
            "bits_set",
            F.expr("CAST(bits_set * 1000000 div m AS BIGINT)").alias(
                "fill_ppm"
            ),
            "n_probes",
            "false_pos",
            F.expr(
                "CAST(false_pos * 1000000 div n_probes AS BIGINT)"
            ).alias("measured_fpr_ppm"),
            F.expr(
                "CAST(CASE WHEN k = 2 THEN"
                " (CAST(bits_set * 1000000 div m AS DECIMAL(38,0))"
                "  * (bits_set * 1000000 div m)) div 1000000"
                " ELSE"
                " (CAST(bits_set * 1000000 div m AS DECIMAL(38,0))"
                "  * (bits_set * 1000000 div m)"
                "  * (bits_set * 1000000 div m)"
                "  * (bits_set * 1000000 div m))"
                " div 1000000000000000000 END AS BIGINT)"
            ).alias("predicted_fpr_ppm"),
        )
        .orderBy("m_bits", "k")
    )


ESTIMATOR_QUERIES["q363_bloom_geometry"] = q363_bloom_geometry


def _bloom_oracle() -> str:
    grid_rows = ", ".join(f"({m}, {k})" for m, k in _BF_GRID)
    k_max = max(k for _, k in _BF_GRID)
    pos_member = _h32("md5('bf' || CAST(h AS VARCHAR) || ':' || fp)")
    pos_probe = _h32("md5('bf' || CAST(h AS VARCHAR) || ':' || pf)")
    return f"""
    WITH geoms(m, k) AS (VALUES {grid_rows}),
    fps AS (SELECT DISTINCT {_FP} AS fp FROM documents),
    bits AS (
      SELECT DISTINCT g.m, g.k, ({pos_member}) % g.m AS pos
      FROM fps CROSS JOIN geoms g
      CROSS JOIN (SELECT UNNEST(generate_series(1, {k_max})) AS h) hs
      WHERE hs.h <= g.k
    ),
    fill AS (
      SELECT m, k, CAST(COUNT(*) AS BIGINT) AS bits_set
      FROM bits GROUP BY m, k
    ),
    probes AS (
      SELECT md5('probe:' || CAST(i AS VARCHAR)) AS pf
      FROM (SELECT UNNEST(generate_series(0, {_BF_PROBES - 1})) AS i)
    ),
    ppos AS (
      SELECT g.m, g.k, p.pf, ({pos_probe}) % g.m AS pos
      FROM probes p CROSS JOIN geoms g
      CROSS JOIN (SELECT UNNEST(generate_series(1, {k_max})) AS h) hs
      WHERE hs.h <= g.k
    ),
    hits AS (
      SELECT pp.m, pp.k, pp.pf,
             SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM ppos pp LEFT JOIN bits b
        ON b.m = pp.m AND b.k = pp.k AND b.pos = pp.pos
      GROUP BY pp.m, pp.k, pp.pf
    ),
    fpr AS (
      SELECT m, k, CAST(COUNT(*) AS BIGINT) AS n_probes,
             CAST(COUNT(*) FILTER (WHERE n_hit = k) AS BIGINT)
               AS false_pos
      FROM hits GROUP BY m, k
    ),
    n_mem AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_members FROM fps)
    SELECT m AS m_bits, k, n.n_members, f.bits_set,
           CAST(f.bits_set * 1000000 // f.m AS BIGINT) AS fill_ppm,
           r.n_probes, r.false_pos,
           CAST(r.false_pos * 1000000 // r.n_probes AS BIGINT)
             AS measured_fpr_ppm,
           CAST(CASE WHEN f.k = 2 THEN
                  (CAST(f.bits_set * 1000000 // f.m AS HUGEINT)
                   * (f.bits_set * 1000000 // f.m)) // 1000000
                ELSE
                  (CAST(f.bits_set * 1000000 // f.m AS HUGEINT)
                   * (f.bits_set * 1000000 // f.m)
                   * (f.bits_set * 1000000 // f.m)
                   * (f.bits_set * 1000000 // f.m))
                  // 1000000000000000000 END AS BIGINT)
             AS predicted_fpr_ppm
    FROM fill f JOIN fpr r USING (m, k)
    CROSS JOIN n_mem n
    ORDER BY m_bits, k
    """


ESTIMATOR_ORACLES["q363_bloom_geometry"] = _bloom_oracle()


# --- q364: consistent-hash resharding churn ------------------------------------


def q364_reshard_churn(spark, sf_dir):
    """Resharding churn audit: what fraction of the corpus MOVES when
    the shard count grows 16 → 17, under (a) mod-N hashing and (b)
    rendezvous/HRW hashing (operators.skew.rendezvous_bucket). Theory
    says mod-N rewrites ~16/17 of every bucketed layout while HRW moves
    only the ~1/17 the new shard wins — this query measures both on the
    real key population, which is what you show whoever proposes
    "just re-mod the 100 TB layout" (measured vs theoretical floor,
    side by side).

    Scale shape: pure per-row projection (the HRW score spine is
    in-row, no row multiplication) feeding ONE map-side-combined
    aggregate; output is a single row.
    """
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.skew import rendezvous_bucket

    docs = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    assigned = docs.select(
        (portable_hash32(F.concat(F.lit("shard:"), key)) % 16).alias("m16"),
        (portable_hash32(F.concat(F.lit("shard:"), key)) % 17).alias("m17"),
        rendezvous_bucket(key, 16).alias("h16"),
        rendezvous_bucket(key, 17).alias("h17"),
    )
    return assigned.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_if(F.col("m16") != F.col("m17")).cast("long").alias(
            "mod_moved"
        ),
        F.expr(
            "CAST(count_if(m16 != m17) * 1000000 div count(*) AS BIGINT)"
        ).alias("mod_churn_ppm"),
        F.count_if(F.col("h16") != F.col("h17")).cast("long").alias(
            "hrw_moved"
        ),
        F.expr(
            "CAST(count_if(h16 != h17) * 1000000 div count(*) AS BIGINT)"
        ).alias("hrw_churn_ppm"),
        F.lit(1000000 // 17).cast("long").alias("theory_min_ppm"),
    )


ESTIMATOR_QUERIES["q364_reshard_churn"] = q364_reshard_churn


def _churn_oracle() -> str:
    key = "CAST(doc_id AS VARCHAR)"
    mod = _h32(f"md5('shard:' || {key})")
    hrw = (
        "list_max(list_transform(range(0, {n}), b -> "
        + _h32(f"md5('hrw:' || CAST(b AS VARCHAR) || ':' || {key})")
        + " * 64 + b)) % 64"
    )
    return f"""
    WITH assigned AS (
      SELECT ({mod}) % 16 AS m16,
             ({mod}) % 17 AS m17,
             {hrw.format(n=16)} AS h16,
             {hrw.format(n=17)} AS h17
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE m16 != m17) AS BIGINT) AS mod_moved,
           CAST(COUNT(*) FILTER (WHERE m16 != m17) * 1000000 // COUNT(*)
                AS BIGINT) AS mod_churn_ppm,
           CAST(COUNT(*) FILTER (WHERE h16 != h17) AS BIGINT) AS hrw_moved,
           CAST(COUNT(*) FILTER (WHERE h16 != h17) * 1000000 // COUNT(*)
                AS BIGINT) AS hrw_churn_ppm,
           CAST({1000000 // 17} AS BIGINT) AS theory_min_ppm
    FROM assigned
    """


ESTIMATOR_ORACLES["q364_reshard_churn"] = _churn_oracle()


# --- q365: Wald–Wolfowitz runs test on ingest order -----------------------------


def q365_runs_test(spark, sf_dir):
    """Wald–Wolfowitz runs test of ingest-order randomness, per source:
    is document LENGTH serially correlated along doc_id order (batched
    crawls, sorted dumps), or does it arrive i.i.d.? Sequences of
    above/below-median lengths are reduced to the run count R; under
    randomness E[R] = 1 + 2n₁n₂/n and z² = (R−E)²/Var has the
    closed-form integer rational z² = (Rn − n − 2n₁n₂)²(n−1) /
    (2n₁n₂(2n₁n₂−n)) — shipped ×1000, division last, no square roots.
    A large z² says "this source's shards are length-sorted": exactly
    what silently breaks length-bucketed batch sampling (q136) and any
    'first N docs' eyeball audit at 100 TB. Values equal to the median
    are excluded (the standard treatment).

    Scale shape: the per-source median comes off the collapsed
    (source, n_chars) distinct-value table; the lag scan is
    partition-parallel across sources (the within-source order IS the
    statistic); one aggregate ends it. z² denominators are
    greatest(…,1)-guarded (degenerate all-one-side sources).
    """
    return runs_test_report(load_table(spark, sf_dir, "documents"))


def runs_test_report(docs):
    """DF-level core of q365 (any DataFrame with source/doc_id/n_chars)
    — shared with the stress harness (per-source window partitions grow
    N× wide under replication; the scan stays one pass)."""
    docs = docs.select("source", "doc_id", "n_chars")
    # materialize the collapsed (source, n_chars, c) value table once:
    # its two consumers (cumulative median walk, per-source totals) each
    # re-ran the full corpus aggregate; the table is bounded by the
    # value domain, never the corpus
    cnts = (
        docs.groupBy("source", "n_chars")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cnts.select(
        "source", "n_chars", F.sum("c").over(wcum).alias("cum")
    )
    n_per = cnts.groupBy("source").agg(F.sum("c").cast("long").alias("n_all"))
    med = (
        cum.join(n_per, "source")
        .where(F.col("cum") * 2 >= F.col("n_all"))
        .groupBy("source")
        .agg(F.min("n_chars").alias("med"))
    )
    signed = (
        docs.join(F.broadcast(med), "source")
        .where(F.col("n_chars") != F.col("med"))
        .select(
            "source",
            "doc_id",
            (F.col("n_chars") > F.col("med")).cast("long").alias("s"),
        )
    )
    wlag = Window.partitionBy("source").orderBy("doc_id")
    runs = (
        signed.select(
            "source", "s", F.lag("s").over(wlag).alias("prev")
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("s").cast("long").alias("n1"),
            (F.count("*") - F.sum("s")).cast("long").alias("n2"),
            F.count_if(
                F.col("prev").isNull() | (F.col("s") != F.col("prev"))
            )
            .cast("long")
            .alias("runs"),
        )
    )
    return runs.select(
        "source",
        "n",
        "n1",
        "n2",
        "runs",
        F.expr(
            "CAST((n + 2 * CAST(n1 AS DECIMAL(38,0)) * n2) * 1000"
            " div n AS BIGINT)"
        ).alias("exp_runs_milli"),
        F.expr(
            "CAST((CAST(runs AS DECIMAL(38,0)) * n - n"
            "      - 2 * CAST(n1 AS DECIMAL(38,0)) * n2)"
            "     * (CAST(runs AS DECIMAL(38,0)) * n - n"
            "        - 2 * CAST(n1 AS DECIMAL(38,0)) * n2)"
            "     * (n - 1) * 1000"
            " div greatest(2 * CAST(n1 AS DECIMAL(38,0)) * n2"
            "              * (2 * CAST(n1 AS DECIMAL(38,0)) * n2 - n), 1)"
            " AS BIGINT)"
        ).alias("z2_milli"),
    ).orderBy("source")


ESTIMATOR_QUERIES["q365_runs_test"] = q365_runs_test

ESTIMATOR_ORACLES["q365_runs_test"] = """
    WITH cnts AS (
      SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars
    ),
    cum AS (
      SELECT source, n_chars,
             SUM(c) OVER (PARTITION BY source ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM cnts
    ),
    n_per AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_all
      FROM cnts GROUP BY source
    ),
    med AS (
      SELECT c.source, MIN(c.n_chars) AS med
      FROM cum c JOIN n_per np ON c.source = np.source
      WHERE c.cum * 2 >= np.n_all
      GROUP BY c.source
    ),
    signed AS (
      SELECT d.source, d.doc_id,
             CAST(d.n_chars > m.med AS BIGINT) AS s
      FROM documents d JOIN med m ON d.source = m.source
      WHERE d.n_chars != m.med
    ),
    lagged AS (
      SELECT source, s,
             LAG(s) OVER (PARTITION BY source ORDER BY doc_id) AS prev
      FROM signed
    ),
    runs AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(s) AS BIGINT) AS n2,
             CAST(COUNT(*) FILTER (WHERE prev IS NULL OR s != prev)
                  AS BIGINT) AS runs
      FROM lagged GROUP BY source
    )
    SELECT source, n, n1, n2, runs,
           CAST((n + 2 * CAST(n1 AS HUGEINT) * n2) * 1000 // n AS BIGINT)
             AS exp_runs_milli,
           CAST((CAST(runs AS HUGEINT) * n - n
                 - 2 * CAST(n1 AS HUGEINT) * n2)
                * (CAST(runs AS HUGEINT) * n - n
                   - 2 * CAST(n1 AS HUGEINT) * n2)
                * (n - 1) * 1000
                // GREATEST(2 * CAST(n1 AS HUGEINT) * n2
                            * (2 * CAST(n1 AS HUGEINT) * n2 - n), 1)
                AS BIGINT) AS z2_milli
    FROM runs ORDER BY source
"""


# --- q366: n-gram novelty per source --------------------------------------------


def q366_ngram_novelty(spark, sf_dir):
    """Per-source 5-gram novelty: the share of a source's distinct word
    5-grams that appear in NO other source — the asymmetric complement
    of q339's pairwise containment (which finds who copies whom; this
    prices what each source UNIQUELY contributes). A low-novelty source
    is mixture weight wasted on text the corpus already has — the
    first-order ranking for "which crawl do we drop at the 100 TB
    budget line?" — while novel_grams is the marginal-content currency
    that q335's reweighting and q351's saturation curve spend.

    Scale shape: one shingling pass collapses to distinct (gram,
    source); the gram-level source count is one aggregate on that
    collapsed table; a self-join on gram brings it back — all linear in
    distinct grams, never doc × doc.
    """
    from adhesive_spark.operators.dedup import word_shingles
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    grams = (
        docs.select(
            "source",
            F.explode(word_shingles(F.col("text"), 5)).alias("g"),
        )
        .distinct()
        .transform(checkpoint_corpus)
    )
    per_gram = grams.groupBy("g").agg(
        F.count("*").cast("long").alias("n_src")
    )
    return (
        grams.join(per_gram, "g")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.count_if(F.col("n_src") == 1).cast("long").alias(
                "novel_grams"
            ),
            F.expr(
                "CAST(count_if(n_src = 1) * 1000000"
                " div greatest(count(*), 1) AS BIGINT)"
            ).alias("novelty_ppm"),
            F.max("n_src").cast("long").alias("max_gram_spread"),
        )
        .orderBy("source")
    )


ESTIMATOR_QUERIES["q366_ngram_novelty"] = q366_ngram_novelty

ESTIMATOR_ORACLES["q366_ngram_novelty"] = f"""
    WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
    g AS (SELECT source, {_shingles(5)} AS grams FROM t),
    grams AS (
      SELECT DISTINCT source, UNNEST(grams) AS g FROM g
    ),
    per_gram AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_src
      FROM grams GROUP BY g
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE p.n_src = 1) AS BIGINT)
             AS novel_grams,
           CAST(COUNT(*) FILTER (WHERE p.n_src = 1) * 1000000
                // GREATEST(COUNT(*), 1) AS BIGINT) AS novelty_ppm,
           CAST(MAX(p.n_src) AS BIGINT) AS max_gram_spread
    FROM grams s JOIN per_gram p ON s.g = p.g
    GROUP BY s.source ORDER BY s.source
"""


# --- q367: decile lift / cumulative-gains table ---------------------------------


def q367_decile_lift(spark, sf_dir):
    """Decile lift & cumulative-gains table for the composite quality
    score as a PROXY for the hard length gate (n_chars outside
    [100, 20000]): score the corpus, split into ten score deciles
    (ascending — decile 1 is the worst), and report each decile's
    gate-failure rate, lift over the base rate, and the cumulative
    capture curve. This is the scorer-calibration readout behind every
    "cheap score first, expensive gate second" cascade at 100 TB: if
    the bottom two deciles capture ~all failures, the full gate only
    ever runs on 20% of the corpus.

    Deciles are assigned at the distinct-VALUE grain (every doc with an
    equal score shares the decile of the value's first slot) — the
    replication-invariant, bounded-domain form of ntile that needs no
    global per-row window.

    Scale shape: the corpus collapses once to (score, cnt, pos); both
    windows run over distinct score values / 10 decile rows only.
    """
    from adhesive_spark.operators.text import quality_score, scaled_long
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    by_val = (
        docs.select(
            scaled_long(quality_score(F.col("text")), 4).alias("q_s"),
            (
                (F.col("n_chars") < 100) | (F.col("n_chars") > 20000)
            )
            .cast("long")
            .alias("pos"),
        )
        .groupBy("q_s")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("pos").cast("long").alias("pos"),
        )
        .localCheckpoint(eager=True)
    )
    tot = F.broadcast(
        by_val.agg(
            F.sum("cnt").cast("long").alias("n_total"),
            F.sum("pos").cast("long").alias("total_pos"),
        )
    )
    # bounded-domain: distinct score values only (replication-invariant)
    wv = Window.orderBy("q_s").rowsBetween(Window.unboundedPreceding, -1)
    val_dec = by_val.select(
        "q_s",
        "cnt",
        "pos",
        F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("cum_before"),
    ).crossJoin(tot).select(
        F.expr(
            "CAST(least(10, 1 + cum_before * 10 div n_total) AS BIGINT)"
        ).alias("decile"),
        "cnt",
        "pos",
        "n_total",
        "total_pos",
    )
    per_dec = val_dec.groupBy("decile", "n_total", "total_pos").agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("positives"),
    )
    # bounded-domain: ≤10 decile rows
    wd = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_dec.select(
            "decile",
            "n_docs",
            "positives",
            "total_pos",
            "n_total",
            F.expr(
                "CAST(positives * 1000000 div n_docs AS BIGINT)"
            ).alias("pos_rate_ppm"),
            F.sum("positives").over(wd).cast("long").alias("cum_pos"),
            F.expr(
                "CAST(CAST(positives AS DECIMAL(38,0)) * n_total * 1000000"
                " div greatest(CAST(n_docs AS DECIMAL(38,0)) * total_pos, 1)"
                " AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .select(
            "decile",
            "n_docs",
            "positives",
            "pos_rate_ppm",
            "cum_pos",
            F.expr(
                "CAST(cum_pos * 1000000 div greatest(total_pos, 1)"
                " AS BIGINT)"
            ).alias("cum_capture_ppm"),
            "lift_ppm",
        )
        .orderBy("decile")
    )


ESTIMATOR_QUERIES["q367_decile_lift"] = q367_decile_lift


def _lift_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT text, n_chars, {_TOKS} AS toks FROM documents
    ),
    scored AS (
      SELECT CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS q_s,
             CAST(n_chars < 100 OR n_chars > 20000 AS BIGINT) AS pos
      FROM t
    ),
    by_val AS (
      SELECT q_s, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(pos) AS BIGINT) AS pos
      FROM scored GROUP BY q_s
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
             CAST(SUM(pos) AS BIGINT) AS total_pos
      FROM by_val
    ),
    val_dec AS (
      SELECT LEAST(10, 1 + COALESCE(SUM(cnt) OVER (ORDER BY q_s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               * 10 // t.n_total) AS decile,
             cnt, pos, t.n_total, t.total_pos
      FROM by_val, tot t
    ),
    per_dec AS (
      SELECT decile, n_total, total_pos,
             CAST(SUM(cnt) AS BIGINT) AS n_docs,
             CAST(SUM(pos) AS BIGINT) AS positives
      FROM val_dec GROUP BY decile, n_total, total_pos
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_docs, positives,
           CAST(positives * 1000000 // n_docs AS BIGINT) AS pos_rate_ppm,
           CAST(SUM(positives) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_pos,
           CAST(SUM(positives) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             * 1000000 // GREATEST(total_pos, 1) AS BIGINT)
             AS cum_capture_ppm,
           CAST(CAST(positives AS HUGEINT) * n_total * 1000000
                // GREATEST(CAST(n_docs AS HUGEINT) * total_pos, 1)
                AS BIGINT) AS lift_ppm
    FROM per_dec ORDER BY decile
    """


ESTIMATOR_ORACLES["q367_decile_lift"] = _lift_oracle()


# --- q368: Johnson–Lindenstrauss distortion audit --------------------------------


def _jl_signs(k: int = 16, d: int = 64) -> list[list[int]]:
    """±1 sign-projection matrix, derived ONCE at module build from
    md5("jl:{j}:{i}") parity (hashlib md5 == Spark md5 == DuckDB md5, so
    embedding the resulting literal in both engines is exact parity by
    construction — no per-row hashing at run time)."""
    import hashlib

    return [
        [
            1
            - 2
            * (
                int(
                    hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[:8], 16
                )
                % 2
            )
            for i in range(d)
        ]
        for j in range(k)
    ]


_JL_S = _jl_signs()
_JL_S_SPARK = (
    "array("
    + ", ".join(
        "array(" + ", ".join(f"{v}L" for v in row) + ")" for row in _JL_S
    )
    + ")"
)
_JL_S_DUCK = (
    "["
    + ", ".join(
        "[" + ", ".join(str(v) for v in row) + "]" for row in _JL_S
    )
    + "]"
)


def q368_jl_distortion(spark, sf_dir):
    """Johnson–Lindenstrauss distortion audit of a ±1 sign projection
    64 → 16 dims (Achlioptas 2003: database-friendly random
    projections): project the milli-quantized embeddings through a
    fixed sign matrix and measure, over a deterministic linear pair
    sample (vec_id deltas 1/7/31), how well projected squared distances
    ‖R(x−y)‖²/16 track the true ‖x−y‖². Reported as the ratio-of-sums
    plus the worst per-pair ratios and the share inside ±20% — the
    measured answer to "can the 4× cheaper sketch stand in for the full
    vector in the first ANN pass?" (the q348 PQ-distortion sibling for
    the projection family; JL says ratios concentrate near 1, this
    VERIFIES it on our vectors).

    Scale shape: projection is one in-row higher-order expression
    against a module-literal sign matrix (no hashing, no shuffle); the
    pair sample is 3 equi-joins on vec_id+δ — linear, never n².
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))"
        ).alias("mv"),
    )
    proj = emb.select(
        "vec_id",
        "mv",
        F.expr(
            # the sign matrix is the transform's INPUT (evaluated once),
            # never referenced from inside a lambda — element_at(S, j)
            # in the lambda body would rebuild the 1024-literal array
            # per element (measured 100× slower)
            f"transform({_JL_S_SPARK}, row -> aggregate("
            f" zip_with(mv, row, (x, s) -> x * s),"
            f" CAST(0 AS BIGINT), (acc, v) -> acc + v))"
        ).alias("pv"),
    ).localCheckpoint(eager=True)
    a = proj.select(
        F.col("vec_id").alias("ida"),
        F.col("mv").alias("mva"),
        F.col("pv").alias("pva"),
        F.explode(F.array(F.lit(1), F.lit(7), F.lit(31))).alias("delta"),
    ).withColumn("idb", F.col("ida") + F.col("delta"))
    b = proj.select(
        F.col("vec_id").alias("idb"),
        F.col("mv").alias("mvb"),
        F.col("pv").alias("pvb"),
    )
    sq = (
        "aggregate(zip_with({x}, {y}, (p, q) -> (p - q) * (p - q)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    pairs = a.join(b, "idb").select(
        F.expr(sq.format(x="mva", y="mvb")).alias("d2"),
        F.expr(sq.format(x="pva", y="pvb")).alias("p2"),
    ).where(F.col("d2") > 0)
    per = pairs.select(
        "d2",
        "p2",
        F.expr(
            "CAST(p2 * 1000000 div (16 * d2) AS BIGINT)"
        ).alias("ratio_ppm"),
    )
    return per.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(CAST(sum(p2) AS DECIMAL(38,0)) * 1000000"
            " div (16 * CAST(sum(d2) AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("agg_ratio_ppm"),
        F.min("ratio_ppm").cast("long").alias("min_ratio_ppm"),
        F.max("ratio_ppm").cast("long").alias("max_ratio_ppm"),
        F.expr(
            "CAST(count_if(ratio_ppm BETWEEN 800000 AND 1200000)"
            " * 1000000 div count(*) AS BIGINT)"
        ).alias("within20_ppm"),
    )


ESTIMATOR_QUERIES["q368_jl_distortion"] = q368_jl_distortion

ESTIMATOR_ORACLES["q368_jl_distortion"] = f"""
    WITH emb AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> CAST(ROUND(x * 1000, 0) AS BIGINT)) AS mv
      FROM embeddings
    ),
    -- sign matrix as 16 ROWS, not a literal inside the lambda (a
    -- literal referenced from a lambda body is rebuilt per element:
    -- measured 260 s vs 2 s on 500 vectors)
    signs AS (
      SELECT j, ({_JL_S_DUCK})[j] AS s_row
      FROM (SELECT UNNEST(range(1, 17)) AS j)
    ),
    projj AS (
      SELECT e.vec_id, s.j,
             CAST(list_sum(list_transform(range(1, 65),
               i -> e.mv[i] * s.s_row[i])) AS BIGINT) AS p
      FROM emb e CROSS JOIN signs s
    ),
    proj0 AS (
      SELECT vec_id, list(p ORDER BY j) AS pv
      FROM projj GROUP BY vec_id
    ),
    proj AS (
      SELECT p.vec_id, e.mv, p.pv FROM proj0 p JOIN emb e USING (vec_id)
    ),
    pairs AS (
      SELECT a.mv AS mva, a.pv AS pva, b.mv AS mvb, b.pv AS pvb
      FROM proj a
      CROSS JOIN (SELECT UNNEST([1, 7, 31]) AS delta) d
      JOIN proj b ON b.vec_id = a.vec_id + d.delta
    ),
    dist AS (
      SELECT CAST(list_sum(list_transform(range(1, 65),
               i -> (mva[i] - mvb[i]) * (mva[i] - mvb[i]))) AS BIGINT)
               AS d2,
             CAST(list_sum(list_transform(range(1, 17),
               i -> (pva[i] - pvb[i]) * (pva[i] - pvb[i]))) AS BIGINT)
               AS p2
      FROM pairs
    ),
    per AS (
      SELECT d2, p2,
             CAST(p2 * 1000000 // (16 * d2) AS BIGINT) AS ratio_ppm
      FROM dist WHERE d2 > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(CAST(SUM(p2) AS HUGEINT) * 1000000
                // (16 * CAST(SUM(d2) AS HUGEINT)) AS BIGINT)
             AS agg_ratio_ppm,
           CAST(MIN(ratio_ppm) AS BIGINT) AS min_ratio_ppm,
           CAST(MAX(ratio_ppm) AS BIGINT) AS max_ratio_ppm,
           CAST(COUNT(*) FILTER (WHERE ratio_ppm BETWEEN 800000 AND
                1200000) * 1000000 // COUNT(*) AS BIGINT) AS within20_ppm
    FROM per
"""


# --- q369: user-contribution bounding (DP preprocessing audit) -------------------


def q369_contribution_bounding(spark, sf_dir):
    """User-contribution bounding audit — the pre-flight every
    differential-privacy (or simply robust) aggregate needs: per event
    type, how concentrated is the metric in its heaviest users, where
    does the exact p95 per-user cap sit, and what fraction of the total
    does clipping to that cap cost? (Amin et al. 2019, "Bounding user
    contributions: a bias-variance trade-off in differential privacy" —
    the cap IS the bias knob.) A type whose top user holds 5% of the
    mass cannot be released with per-event noise; this query is the
    evidence. Exact cents arithmetic end-to-end.

    Scale shape: events collapse once to per-(type, user) totals; the
    p95 cap comes off the distinct-value cumulative within each type
    (bounded domain); clipping is one broadcast join back. Output is
    5 rows.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "event_type",
            "user_id",
            F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("cents").cast("long").alias("tot"))
        .transform(checkpoint_corpus)
    )
    # exact lower p95 of per-user totals, per type (distinct-value cum)
    cnts = per_user.groupBy("event_type", "tot").agg(
        F.count("*").cast("long").alias("c")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("tot")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cnts.select(
        "event_type", "tot", F.sum("c").over(wcum).alias("cum")
    )
    n_per = cnts.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_users")
    )
    cap = (
        cum.join(n_per, "event_type")
        .where(F.col("cum") * 20 >= F.col("n_users") * 19)
        .groupBy("event_type")
        .agg(F.min("tot").alias("cap_cents"))
    )
    return (
        per_user.join(F.broadcast(cap), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("tot").cast("long").alias("total_cents"),
            F.max("tot").cast("long").alias("max_user_cents"),
            F.expr(
                "CAST(max(tot) * 1000000 div sum(tot) AS BIGINT)"
            ).alias("top_share_ppm"),
            F.min("cap_cents").cast("long").alias("cap_cents"),
            F.count_if(F.col("tot") > F.col("cap_cents"))
            .cast("long")
            .alias("n_clipped"),
            F.sum(F.least(F.col("tot"), F.col("cap_cents")))
            .cast("long")
            .alias("clipped_total_cents"),
            F.expr(
                "CAST((sum(tot) - sum(least(tot, cap_cents))) * 1000000"
                " div sum(tot) AS BIGINT)"
            ).alias("clip_loss_ppm"),
        )
        .orderBy("event_type")
    )


ESTIMATOR_QUERIES["q369_contribution_bounding"] = q369_contribution_bounding

ESTIMATOR_ORACLES["q369_contribution_bounding"] = """
    WITH per_user AS (
      SELECT event_type, user_id,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events GROUP BY event_type, user_id
    ),
    cnts AS (
      SELECT event_type, tot, CAST(COUNT(*) AS BIGINT) AS c
      FROM per_user GROUP BY event_type, tot
    ),
    cum AS (
      SELECT event_type, tot,
             SUM(c) OVER (PARTITION BY event_type ORDER BY tot
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM cnts
    ),
    n_per AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_users
      FROM cnts GROUP BY event_type
    ),
    cap AS (
      SELECT c.event_type, MIN(c.tot) AS cap_cents
      FROM cum c JOIN n_per np ON c.event_type = np.event_type
      WHERE c.cum * 20 >= np.n_users * 19
      GROUP BY c.event_type
    )
    SELECT p.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(p.tot) AS BIGINT) AS total_cents,
           CAST(MAX(p.tot) AS BIGINT) AS max_user_cents,
           CAST(MAX(p.tot) * 1000000 // SUM(p.tot) AS BIGINT)
             AS top_share_ppm,
           CAST(MIN(c.cap_cents) AS BIGINT) AS cap_cents,
           CAST(COUNT(*) FILTER (WHERE p.tot > c.cap_cents) AS BIGINT)
             AS n_clipped,
           CAST(SUM(LEAST(p.tot, c.cap_cents)) AS BIGINT)
             AS clipped_total_cents,
           CAST((SUM(p.tot) - SUM(LEAST(p.tot, c.cap_cents))) * 1000000
                // SUM(p.tot) AS BIGINT) AS clip_loss_ppm
    FROM per_user p JOIN cap c ON p.event_type = c.event_type
    GROUP BY p.event_type ORDER BY p.event_type
"""


# --- q370: partitioner hash-uniformity chi-square --------------------------------


def q370_hash_uniformity(spark, sf_dir):
    """Chi-square uniformity audit of the portable 32-bit hash as a
    64-way partitioner over the corpus's fingerprint keys — THE
    assumption every shuffle, salted join, and hash-bucketed layout in
    this repo stands on, measured instead of assumed. Ships the exact
    X² statistic (closed form 64·ΣO² /N − N over ALL 64 buckets —
    empty buckets enter via the algebra, and the bucket spine is joined
    explicitly so min_bucket sees them too), the heaviest bucket's
    overload vs the mean, and df = 63. X² far above ~82 (p≈0.05)
    flags a correlated key population BEFORE it becomes a straggler at
    100 TB.

    Scale shape: keys collapse to 64 bucket counts in one
    map-side-combined aggregate; the spine join and X² run on ≤64 rows.
    """
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    obs = (
        docs.select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .select(
            F.pmod(
                portable_hash32(F.concat(F.lit("bk:"), F.col("fp"))),
                F.lit(64),
            ).alias("b")
        )
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("o"))
    )
    spine = spark.range(64).select(F.col("id").alias("b"))
    full = spine.join(obs, "b", "left").select(
        "b", F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o")
    )
    return full.agg(
        F.sum("o").cast("long").alias("n_keys"),
        F.lit(64).cast("long").alias("n_buckets"),
        F.lit(63).cast("long").alias("df"),
        F.min("o").cast("long").alias("min_bucket"),
        F.max("o").cast("long").alias("max_bucket"),
        F.expr(
            "CAST(max(o) * 64 * 1000000 div greatest(sum(o), 1)"
            " AS BIGINT)"
        ).alias("max_over_mean_ppm"),
        F.expr(
            "CAST((64 * CAST(sum(o * o) AS DECIMAL(38,0)) * 1000"
            " - CAST(sum(o) AS DECIMAL(38,0)) * sum(o) * 1000)"
            " div greatest(sum(o), 1) AS BIGINT)"
        ).alias("chi2_milli"),
    )


ESTIMATOR_QUERIES["q370_hash_uniformity"] = q370_hash_uniformity


def _uniformity_oracle() -> str:
    bkt = _h32("md5('bk:' || fp)")
    return f"""
    WITH fps AS (SELECT DISTINCT {_FP} AS fp FROM documents),
    obs AS (
      SELECT ({bkt}) % 64 AS b, CAST(COUNT(*) AS BIGINT) AS o
      FROM fps GROUP BY 1
    ),
    spine AS (SELECT UNNEST(generate_series(0, 63)) AS b),
    full_t AS (
      SELECT s.b, COALESCE(obs.o, 0) AS o
      FROM spine s LEFT JOIN obs ON s.b = obs.b
    )
    SELECT CAST(SUM(o) AS BIGINT) AS n_keys,
           CAST(64 AS BIGINT) AS n_buckets,
           CAST(63 AS BIGINT) AS df,
           CAST(MIN(o) AS BIGINT) AS min_bucket,
           CAST(MAX(o) AS BIGINT) AS max_bucket,
           CAST(MAX(o) * 64 * 1000000 // GREATEST(SUM(o), 1) AS BIGINT)
             AS max_over_mean_ppm,
           CAST((64 * CAST(SUM(o * o) AS HUGEINT) * 1000
                 - CAST(SUM(o) AS HUGEINT) * SUM(o) * 1000)
                // GREATEST(SUM(o), 1) AS BIGINT) AS chi2_milli
    FROM full_t
    """


ESTIMATOR_ORACLES["q370_hash_uniformity"] = _uniformity_oracle()


# --- q371: day-of-week seasonality index ----------------------------------------


def q371_dow_seasonality(spark, sf_dir):
    """Multiplicative day-of-week seasonality index of event value:
    per weekday, mean-value-vs-overall-mean in ppm (index 1 000 000 =
    no seasonality), computed division-LAST as sum_dow·n_total·10⁶ /
    (n_dow·sum_total) so the two engines floor the same integer. The
    q310 ACF says WHETHER the series is periodic; this says WHICH days
    carry the load — the number that sizes per-day ingest capacity and
    tells the drift monitors (q150/q340) which baseline to compare
    Tuesday against at 100 TB. Weekday numbering is Sunday=0 in both
    engines (Spark dayofweek()−1, DuckDB dayofweek()).

    Scale shape: ONE map-side-combined aggregate to 7 rows; the index
    math runs on those 7 rows against a broadcast 1-row total.
    """
    ev = load_table(spark, sf_dir, "events").select(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    per = ev.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    tot = F.broadcast(
        per.agg(
            F.sum("n_events").cast("long").alias("n_all"),
            F.sum("total_cents").cast("long").alias("sum_all"),
        )
    )
    return (
        per.crossJoin(tot)
        .select(
            "dow",
            "n_events",
            "total_cents",
            F.expr(
                "CAST(total_cents div n_events AS BIGINT)"
            ).alias("mean_cents"),
            F.expr(
                "CAST(CAST(total_cents AS DECIMAL(38,0)) * n_all * 1000000"
                " div (CAST(n_events AS DECIMAL(38,0)) * sum_all)"
                " AS BIGINT)"
            ).alias("index_ppm"),
        )
        .orderBy("dow")
    )


ESTIMATOR_QUERIES["q371_dow_seasonality"] = q371_dow_seasonality

ESTIMATOR_ORACLES["q371_dow_seasonality"] = """
    WITH ev AS (
      SELECT dayofweek(ts) AS dow,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events
    ),
    per AS (
      SELECT CAST(dow AS BIGINT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(cents) AS BIGINT) AS total_cents
      FROM ev GROUP BY dow
    ),
    tot AS (
      SELECT CAST(SUM(n_events) AS BIGINT) AS n_all,
             CAST(SUM(total_cents) AS BIGINT) AS sum_all
      FROM per
    )
    SELECT dow, n_events, total_cents,
           CAST(total_cents // n_events AS BIGINT) AS mean_cents,
           CAST(CAST(total_cents AS HUGEINT) * n_all * 1000000
                // (CAST(n_events AS HUGEINT) * sum_all) AS BIGINT)
             AS index_ppm
    FROM per, tot ORDER BY dow
"""


# --- q372: decile population-stability (log-free PSI) ----------------------------


def q372_decile_psi(spark, sf_dir):
    """Per-source population-stability audit against the corpus length
    distribution — the χ²-distance variant of PSI (PSI's log term needs
    floats; Σ(obs−exp)²/exp is the standard log-free surrogate, exact
    in integers and zero-safe): split n_chars into corpus deciles at
    the distinct-VALUE grain (the q367 convention), then score every
    source by how far its decile occupancy drifts from the corpus's
    own. THE routing metric for "which upstream feed changed shape this
    week?" — per-source, cross-multiplied, division last, each term
    floored identically in both engines before the sum.

    Scale shape: corpus collapses to the distinct-length table once
    (checkpointed); deciles are assigned there (bounded-domain window);
    the per-source occupancy is one aggregate; the χ² math runs on
    ≤ sources × 10 rows.
    """
    return decile_psi_report(load_table(spark, sf_dir, "documents"))


def decile_psi_report(docs):
    """DF-level core of q372 (any DataFrame with source/n_chars) —
    shared with the stress harness (distinct-value decile table is
    replication-invariant)."""
    docs = docs.select("source", "n_chars")
    by_val = (
        docs.groupBy("n_chars")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    tot = F.broadcast(
        by_val.agg(F.sum("cnt").cast("long").alias("n_all"))
    )
    # bounded-domain: distinct n_chars values only (replication-invariant)
    wv = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, -1
    )
    dec = (
        by_val.select(
            "n_chars",
            F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("cum_before"),
        )
        .crossJoin(tot)
        .select(
            "n_chars",
            F.expr(
                "CAST(least(10, 1 + cum_before * 10 div n_all) AS BIGINT)"
            ).alias("decile"),
        )
    )
    labeled = docs.join(F.broadcast(dec), "n_chars").select(
        "source", "decile"
    )
    # the ONE corpus-sized aggregate; everything below derives from it
    obs = (
        labeled.groupBy("source", "decile")
        .agg(F.count("*").cast("long").alias("o"))
        .localCheckpoint(eager=True)
    )
    exp = obs.groupBy("decile").agg(F.sum("o").cast("long").alias("e"))
    n_src = obs.groupBy("source").agg(
        F.sum("o").cast("long").alias("n_s")
    )
    # grid source × decile (zeros included: a source missing a decile
    # still pays the (0 − exp)²/exp term)
    grid = (
        n_src.crossJoin(F.broadcast(exp))
        .join(F.broadcast(obs), ["source", "decile"], "left")
        .select(
            "source",
            "n_s",
            "decile",
            "e",
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o"),
        )
        .crossJoin(tot)
    )
    terms = grid.select(
        "source",
        "n_s",
        F.expr(
            "CAST((CAST(o AS DECIMAL(38,0)) * n_all"
            "      - CAST(e AS DECIMAL(38,0)) * n_s)"
            "     * (CAST(o AS DECIMAL(38,0)) * n_all"
            "        - CAST(e AS DECIMAL(38,0)) * n_s) * 1000000"
            " div (CAST(n_s AS DECIMAL(38,0)) * n_s * n_all * e)"
            " AS BIGINT)"
        ).alias("term_ppm"),
    )
    return (
        terms.groupBy("source", "n_s")
        .agg(F.sum("term_ppm").cast("long").alias("chi2d_ppm"))
        .select("source", F.col("n_s").alias("n_docs"), "chi2d_ppm")
        .orderBy("source")
    )


ESTIMATOR_QUERIES["q372_decile_psi"] = q372_decile_psi

ESTIMATOR_ORACLES["q372_decile_psi"] = """
    WITH by_val AS (
      SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY n_chars
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_all FROM by_val),
    dec AS (
      SELECT n_chars,
             LEAST(10, 1 + COALESCE(SUM(cnt) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               * 10 // t.n_all) AS decile
      FROM by_val, tot t
    ),
    labeled AS (
      SELECT d.source, x.decile
      FROM documents d JOIN dec x ON d.n_chars = x.n_chars
    ),
    exp_t AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS e
      FROM labeled GROUP BY decile
    ),
    obs AS (
      SELECT source, decile, CAST(COUNT(*) AS BIGINT) AS o
      FROM labeled GROUP BY source, decile
    ),
    n_src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
      FROM labeled GROUP BY source
    ),
    grid AS (
      SELECT ns.source, ns.n_s, ex.decile, ex.e,
             COALESCE(ob.o, 0) AS o, t.n_all
      FROM n_src ns CROSS JOIN exp_t ex
      LEFT JOIN obs ob ON ob.source = ns.source
                      AND ob.decile = ex.decile
      CROSS JOIN tot t
    ),
    terms AS (
      SELECT source, n_s,
             CAST((CAST(o AS HUGEINT) * n_all
                   - CAST(e AS HUGEINT) * n_s)
                  * (CAST(o AS HUGEINT) * n_all
                     - CAST(e AS HUGEINT) * n_s) * 1000000
                  // (CAST(n_s AS HUGEINT) * n_s * n_all * e)
                  AS BIGINT) AS term_ppm
      FROM grid
    )
    SELECT source, n_s AS n_docs,
           CAST(SUM(term_ppm) AS BIGINT) AS chi2d_ppm
    FROM terms GROUP BY source, n_s ORDER BY source
"""


# --- q373: median-of-means robust estimator --------------------------------------


def q373_median_of_means(spark, sf_dir):
    """Median-of-means robustness audit of the event-value mean: split
    the stream into 16 deterministic hash buckets, take each bucket's
    exact integer mean, and compare the (lower) median of those means
    to the global mean — the sub-Gaussian estimator (Nemirovsky &
    Yudin 1983; the MoM literature's workhorse) that a heavy-tailed or
    corrupted feed CAN'T drag the way it drags the mean. A deviation
    near zero certifies the plain mean is trustworthy; a large one is
    the cheapest possible "a few rows are poisoning the average" alarm
    before anyone releases a 100 TB aggregate. All cents-exact.

    Scale shape: one 16-bucket aggregate (map-side combined) + rank
    math on 16 rows.
    """
    return mom_report(
        mom_bucket_sums(load_table(spark, sf_dir, "events"))
    )


def mom_bucket_sums(events):
    """The mergeable 16-row MoM state of an events DataFrame: per
    deterministic hash bucket, (n, s) partial sums — addition-mergeable
    across any split of the stream, which is what lets the streaming
    twin (streaming/ops.streaming_mom_state) maintain it per
    micro-batch with constant state."""
    from adhesive_spark.operators.dedup import portable_hash32

    ev = events.select(
        F.pmod(
            portable_hash32(
                F.concat(F.lit("mom:"), F.col("event_id").cast("string"))
            ),
            F.lit(16),
        ).alias("b"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    return ev.groupBy("b").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )


def mom_report(bucket_sums):
    """DF-level readout of q373 from the 16-row (b, n, s) state —
    shared by the batch query and the streaming state reader."""
    # re-aggregate so PARTIAL states (several (b, n, s) rows per bucket,
    # as a replayed/merged stream snapshot may hold) collapse first
    per = bucket_sums.groupBy("b").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("long").alias("s"),
    ).select("b", "n", "s", F.expr("CAST(s div n AS BIGINT)").alias("m"))
    # lower median of the 16 bucket means: rank 8 of ordered means
    # bounded-domain: 16 bucket rows only (replication-invariant)
    wr = Window.orderBy("m", "b")
    ranked = per.select(
        "n", "s", "m", F.row_number().over(wr).alias("r")
    )
    agg = ranked.agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum("s").cast("long").alias("total_cents"),
        F.expr("CAST(sum(s) div sum(n) AS BIGINT)").alias(
            "global_mean_cents"
        ),
        F.min(F.when(F.col("r") == 8, F.col("m"))).cast("long").alias(
            "mom_cents"
        ),
        F.min("m").cast("long").alias("bucket_mean_min"),
        F.max("m").cast("long").alias("bucket_mean_max"),
    )
    return agg.select(
        "n_events",
        "total_cents",
        "global_mean_cents",
        "mom_cents",
        "bucket_mean_min",
        "bucket_mean_max",
        F.expr(
            "CAST(abs(mom_cents - global_mean_cents) * 1000000"
            " div greatest(global_mean_cents, 1) AS BIGINT)"
        ).alias("dev_ppm"),
    )


ESTIMATOR_QUERIES["q373_median_of_means"] = q373_median_of_means


def _mom_oracle() -> str:
    bkt = _h32("md5('mom:' || CAST(event_id AS VARCHAR))")
    return f"""
    WITH ev AS (
      SELECT ({bkt}) % 16 AS b,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events
    ),
    per AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM ev GROUP BY b
    ),
    means AS (
      SELECT b, n, s, CAST(s // n AS BIGINT) AS m FROM per
    ),
    ranked AS (
      SELECT n, s, m,
             ROW_NUMBER() OVER (ORDER BY m, b) AS r
      FROM means
    ),
    agg AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_events,
             CAST(SUM(s) AS BIGINT) AS total_cents,
             CAST(SUM(s) // SUM(n) AS BIGINT) AS global_mean_cents,
             CAST(MIN(CASE WHEN r = 8 THEN m END) AS BIGINT) AS mom_cents,
             CAST(MIN(m) AS BIGINT) AS bucket_mean_min,
             CAST(MAX(m) AS BIGINT) AS bucket_mean_max
      FROM ranked
    )
    SELECT n_events, total_cents, global_mean_cents, mom_cents,
           bucket_mean_min, bucket_mean_max,
           CAST(ABS(mom_cents - global_mean_cents) * 1000000
                // GREATEST(global_mean_cents, 1) AS BIGINT) AS dev_ppm
    FROM agg
    """


ESTIMATOR_ORACLES["q373_median_of_means"] = _mom_oracle()


# --- q374: birthday-bound collision audit for dedup-key sizing -------------------


def q374_birthday_collisions(spark, sf_dir):
    """Birthday-bound audit for dedup-key sizing: truncate the portable
    hash of every distinct fingerprint to b ∈ {16, 20, 24} bits, count
    ACTUAL colliding pairs Σ C(cnt,2), and ship them beside the
    birthday expectation C(N,2)/2ᵇ — the measured answer to "how many
    bits must the 100 TB dedup key carry before hash collisions start
    MERGING unrelated documents?" (q317 prices collisions inside
    MinHash bands; this prices the identity key itself). A ratio far
    from 10⁶ ppm flags a non-uniform key population long before the
    full-width build.

    Scale shape: per ladder rung, keys collapse to (slot, cnt) in one
    aggregate; the pair count is exact integer algebra on that
    collapsed table — no pair join anywhere.
    """
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    fps = (
        docs.select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .select(
            portable_hash32(F.concat(F.lit("bd:"), F.col("fp"))).alias("h")
        )
        .transform(checkpoint_corpus)
    )
    bspine = spark.range(1).select(
        F.explode(
            F.array(F.lit(16).cast("long"), F.lit(20).cast("long"),
                    F.lit(24).cast("long"))
        ).alias("b")
    )
    slots = (
        fps.crossJoin(F.broadcast(bspine))
        .select("b", F.expr("pmod(h, shiftleft(1, b))").alias("slot"))
        .groupBy("b", "slot")
        .agg(F.count("*").cast("long").alias("c"))
    )
    per = slots.groupBy("b").agg(
        F.sum("c").cast("long").alias("n_keys"),
        F.expr(
            "CAST(sum(c * (c - 1) div 2) AS BIGINT)"
        ).alias("colliding_pairs"),
        F.count_if(F.col("c") > 1).cast("long").alias("hot_slots"),
    )
    return per.select(
        "b",
        F.expr("CAST(shiftleft(1, b) AS BIGINT)").alias("n_slots"),
        "n_keys",
        "hot_slots",
        "colliding_pairs",
        F.expr(
            "CAST(CAST(n_keys AS DECIMAL(38,0)) * (n_keys - 1) * 1000"
            " div (2 * shiftleft(1, b)) AS BIGINT)"
        ).alias("expected_pairs_milli"),
        F.expr(
            "CAST(colliding_pairs * 2000000 * CAST(shiftleft(1, b)"
            " AS DECIMAL(38,0))"
            " div greatest(CAST(n_keys AS DECIMAL(38,0)) * (n_keys - 1), 1)"
            " AS BIGINT)"
        ).alias("obs_over_exp_ppm"),
    ).orderBy("b")


ESTIMATOR_QUERIES["q374_birthday_collisions"] = q374_birthday_collisions


def _birthday_oracle() -> str:
    h = _h32("md5('bd:' || fp)")
    return f"""
    WITH fps AS (
      SELECT ({h}) AS h
      FROM (SELECT DISTINCT {_FP} AS fp FROM documents)
    ),
    bspine AS (SELECT UNNEST([16, 20, 24]) AS b),
    slots AS (
      SELECT b, h % (1 << b) AS slot, CAST(COUNT(*) AS BIGINT) AS c
      FROM fps CROSS JOIN bspine GROUP BY b, slot
    ),
    per AS (
      SELECT b, CAST(SUM(c) AS BIGINT) AS n_keys,
             CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS colliding_pairs,
             CAST(COUNT(*) FILTER (WHERE c > 1) AS BIGINT) AS hot_slots
      FROM slots GROUP BY b
    )
    SELECT CAST(b AS BIGINT) AS b,
           CAST(1 << b AS BIGINT) AS n_slots,
           n_keys, hot_slots, colliding_pairs,
           CAST(CAST(n_keys AS HUGEINT) * (n_keys - 1) * 1000
                // (2 * (1 << b)) AS BIGINT) AS expected_pairs_milli,
           CAST(colliding_pairs * 2000000 * CAST(1 << b AS HUGEINT)
                // GREATEST(CAST(n_keys AS HUGEINT) * (n_keys - 1), 1)
                AS BIGINT) AS obs_over_exp_ppm
    FROM per ORDER BY b
    """


ESTIMATOR_ORACLES["q374_birthday_collisions"] = _birthday_oracle()


# --- q375: Lorenz concentration deciles of customer revenue ----------------------


def q375_lorenz_deciles(spark, sf_dir):
    """Lorenz concentration table of customer revenue: customers are
    ranked into ten revenue deciles (ascending, distinct-value grain —
    the q367 convention) and each decile ships its revenue share and
    the cumulative Lorenz ordinate. Where q303 compresses inequality
    into one Gini number for tokens, this is the full curve for the
    revenue side — the "how much of the workload do the whale accounts
    carry?" readout that sizes per-tenant rate limits and decides
    whether per-customer partitioning needs salting (q48) before it
    ships. Division last everywhere; cents-exact.

    Scale shape: orders collapse to per-customer totals once
    (checkpointed); deciles assign at the distinct-total grain
    (bounded by the customer count); the table is 10 rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.select(
            "o_custkey",
            F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").cast("long").alias("tot"))
        .transform(checkpoint_corpus)
    )
    by_val = per_cust.groupBy("tot").agg(
        F.count("*").cast("long").alias("cnt")
    )
    grand = F.broadcast(
        per_cust.agg(
            F.count("*").cast("long").alias("n_cust_all"),
            F.sum("tot").cast("long").alias("rev_all"),
        )
    )
    # bounded-domain: distinct customer-total values only
    wv = Window.orderBy("tot").rowsBetween(Window.unboundedPreceding, -1)
    dec = (
        by_val.select(
            "tot",
            "cnt",
            F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("cum_before"),
        )
        .crossJoin(grand)
        .select(
            "tot",
            "cnt",
            "n_cust_all",
            "rev_all",
            F.expr(
                "CAST(least(10, 1 + cum_before * 10 div n_cust_all)"
                " AS BIGINT)"
            ).alias("decile"),
        )
    )
    per_dec = dec.groupBy("decile", "n_cust_all", "rev_all").agg(
        F.sum("cnt").cast("long").alias("n_cust"),
        F.sum(F.col("tot") * F.col("cnt")).cast("long").alias("revenue"),
    )
    # bounded-domain: ≤10 decile rows
    wd = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_dec.select(
            "decile",
            "n_cust",
            "revenue",
            "rev_all",
            F.expr(
                "CAST(revenue * 1000000 div rev_all AS BIGINT)"
            ).alias("share_ppm"),
            F.sum("revenue").over(wd).cast("long").alias("cum_revenue"),
        )
        .select(
            "decile",
            "n_cust",
            "revenue",
            "share_ppm",
            F.expr(
                "CAST(cum_revenue * 1000000 div rev_all AS BIGINT)"
            ).alias("lorenz_ppm"),
        )
        .orderBy("decile")
    )


ESTIMATOR_QUERIES["q375_lorenz_deciles"] = q375_lorenz_deciles

ESTIMATOR_ORACLES["q375_lorenz_deciles"] = """
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS tot
      FROM orders GROUP BY o_custkey
    ),
    by_val AS (
      SELECT tot, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM per_cust GROUP BY tot
    ),
    grand AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cust_all,
             CAST(SUM(tot) AS BIGINT) AS rev_all
      FROM per_cust
    ),
    dec AS (
      SELECT tot, cnt, g.n_cust_all, g.rev_all,
             LEAST(10, 1 + COALESCE(SUM(cnt) OVER (ORDER BY tot
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               * 10 // g.n_cust_all) AS decile
      FROM by_val, grand g
    ),
    per_dec AS (
      SELECT decile, rev_all,
             CAST(SUM(cnt) AS BIGINT) AS n_cust,
             CAST(SUM(tot * cnt) AS BIGINT) AS revenue
      FROM dec GROUP BY decile, rev_all
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_cust, revenue,
           CAST(revenue * 1000000 // rev_all AS BIGINT) AS share_ppm,
           CAST(SUM(revenue) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             * 1000000 // rev_all AS BIGINT) AS lorenz_ppm
    FROM per_dec ORDER BY decile
"""


# --- q376: top-k stability under hash-sampling ------------------------------------


def q376_topk_sample_stability(spark, sf_dir):
    """Top-k stability audit: how much of the corpus's exact top-100
    token list survives when recomputed on a deterministic 50% hash
    sample of documents? Ships the set Jaccard, the overlap count, and
    the occurrence-mass share of the full top-k that the sample's list
    recovers — the measured answer to "can the nightly vocab/stopword
    refresh run on a sample?", which is a 2× cost lever on every
    token-level pass at 100 TB. Tie-breaks are deterministic
    ((count DESC, token ASC) via TakeOrdered — no global sort).

    Scale shape: two token-count aggregates (full + sample — the sample
    predicate is a pushdown-friendly hash filter, no second corpus
    copy); top-k via TakeOrdered; the comparison joins two 100-row
    sets.
    """
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    k = 100
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))

    def _topk(df):
        return (
            df.select(F.explode(tokens(F.col("text"))).alias("w"))
            .groupBy("w")
            .agg(F.count("*").cast("long").alias("c"))
            .orderBy(F.desc("c"), F.asc("w"))
            .limit(k)
        )
    full = _topk(docs).localCheckpoint(eager=True)
    half = _topk(
        docs.where(
            portable_hash32(
                F.concat(F.lit("tk:"), F.col("doc_id").cast("string"))
            )
            % 2
            == 0
        )
    )
    joined = full.select(
        F.col("w"), F.col("c"), F.lit(1).alias("in_full")
    ).join(
        half.select(F.col("w"), F.lit(1).alias("in_half")),
        "w",
        "full_outer",
    )
    return joined.agg(
        F.lit(k).cast("long").alias("k"),
        F.count_if(
            F.col("in_full").isNotNull() & F.col("in_half").isNotNull()
        )
        .cast("long")
        .alias("overlap"),
        F.expr(
            "CAST(count_if(in_full IS NOT NULL AND in_half IS NOT NULL)"
            " * 1000000 div count(*) AS BIGINT)"
        ).alias("jaccard_ppm"),
        F.expr(
            "CAST(sum(CASE WHEN in_half IS NOT NULL THEN c ELSE 0 END)"
            " * 1000000 div sum(CASE WHEN in_full IS NOT NULL"
            " THEN c ELSE 0 END) AS BIGINT)"
        ).alias("mass_recovered_ppm"),
    )


ESTIMATOR_QUERIES["q376_topk_sample_stability"] = q376_topk_sample_stability


def _topk_oracle() -> str:
    half_pred = _h32("md5('tk:' || CAST(doc_id AS VARCHAR))") + " % 2 = 0"
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({_TOKS}) AS w FROM documents
    ),
    full_k AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY w ORDER BY c DESC, w ASC LIMIT 100
    ),
    half_k AS (
      SELECT w FROM (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok WHERE {half_pred}
        GROUP BY w ORDER BY c DESC, w ASC LIMIT 100
      )
    ),
    joined AS (
      SELECT COALESCE(f.w, h.w) AS w, f.c,
             CASE WHEN f.w IS NOT NULL THEN 1 END AS in_full,
             CASE WHEN h.w IS NOT NULL THEN 1 END AS in_half
      FROM full_k f FULL OUTER JOIN half_k h ON f.w = h.w
    )
    SELECT CAST(100 AS BIGINT) AS k,
           CAST(COUNT(*) FILTER (WHERE in_full IS NOT NULL
                AND in_half IS NOT NULL) AS BIGINT) AS overlap,
           CAST(COUNT(*) FILTER (WHERE in_full IS NOT NULL
                AND in_half IS NOT NULL) * 1000000 // COUNT(*) AS BIGINT)
             AS jaccard_ppm,
           CAST(SUM(CASE WHEN in_half IS NOT NULL THEN c ELSE 0 END)
                * 1000000
                // SUM(CASE WHEN in_full IS NOT NULL THEN c ELSE 0 END)
                AS BIGINT) AS mass_recovered_ppm
    FROM joined
    """


ESTIMATOR_ORACLES["q376_topk_sample_stability"] = _topk_oracle()


# --- q377: Simpson-reversal (aggregation-level sign flip) audit -------------------


def q377_simpson_reversal(spark, sf_dir):
    """Simpson's-paradox audit: does the length↔quality association
    FLIP sign between the per-source grain and the pooled corpus?
    Integer-exact covariance numerators (n·Σxy − Σx·Σy — sign-safe, no
    variance division needed) per source and pooled, plus the flip
    flag. An aggregation reversal means every pooled correlation the
    dashboards show is confounded by source mix — the statistical
    sibling of q350's dedup survivorship bias, and the canonical reason
    mixture decisions (q335) must be made per-domain, never pooled.

    Scale shape: one aggregate to per-source moment sums (x, y, xy);
    the pooled moments are the SUM of the per-source rows (no second
    corpus pass); sign math on ≤ sources rows.
    """
    from adhesive_spark.operators.text import quality_score, scaled_long
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    moments = (
        docs.select(
            "source",
            F.col("n_chars").cast("long").alias("x"),
            scaled_long(quality_score(F.col("text")), 4).alias("y"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
        .localCheckpoint(eager=True)
    )
    pooled = F.broadcast(
        moments.agg(
            F.sum("n").cast("long").alias("pn"),
            F.sum("sx").cast("long").alias("psx"),
            F.sum("sy").cast("long").alias("psy"),
            F.sum("sxy").cast("long").alias("psxy"),
        )
    )
    return (
        moments.crossJoin(pooled)
        .select(
            "source",
            "n",
            F.expr(
                "CAST(sign(CAST(n AS DECIMAL(38,0)) * sxy"
                " - CAST(sx AS DECIMAL(38,0)) * sy) AS BIGINT)"
            ).alias("src_sign"),
            F.expr(
                "CAST(sign(CAST(pn AS DECIMAL(38,0)) * psxy"
                " - CAST(psx AS DECIMAL(38,0)) * psy) AS BIGINT)"
            ).alias("pooled_sign"),
        )
        .select(
            "source",
            "n",
            "src_sign",
            "pooled_sign",
            F.expr(
                "CAST(src_sign * pooled_sign = -1 AS LONG)"
            ).alias("reversed"),
        )
        .orderBy("source")
    )


ESTIMATOR_QUERIES["q377_simpson_reversal"] = q377_simpson_reversal


def _simpson_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT source, text, n_chars, {_TOKS} AS toks FROM documents
    ),
    xy AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x,
             CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS y
      FROM t
    ),
    moments AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM xy GROUP BY source
    ),
    pooled AS (
      SELECT CAST(SUM(n) AS BIGINT) AS pn,
             CAST(SUM(sx) AS BIGINT) AS psx,
             CAST(SUM(sy) AS BIGINT) AS psy,
             CAST(SUM(sxy) AS BIGINT) AS psxy
      FROM moments
    )
    SELECT m.source, m.n,
           CAST(SIGN(CAST(m.n AS HUGEINT) * m.sxy
                     - CAST(m.sx AS HUGEINT) * m.sy) AS BIGINT)
             AS src_sign,
           CAST(SIGN(CAST(p.pn AS HUGEINT) * p.psxy
                     - CAST(p.psx AS HUGEINT) * p.psy) AS BIGINT)
             AS pooled_sign,
           CAST(CASE WHEN SIGN(CAST(m.n AS HUGEINT) * m.sxy
                               - CAST(m.sx AS HUGEINT) * m.sy)
                          * SIGN(CAST(p.pn AS HUGEINT) * p.psxy
                                 - CAST(p.psx AS HUGEINT) * p.psy) = -1
                     THEN 1 ELSE 0 END AS BIGINT) AS reversed
    FROM moments m, pooled p ORDER BY m.source
    """


ESTIMATOR_ORACLES["q377_simpson_reversal"] = _simpson_oracle()


# --- q378: work-in-progress (open orders) sweep-line profile ---------------------


def q378_wip_profile(spark, sf_dir):
    """Work-in-progress profile of the order pipeline by sweep-line:
    each order is open from o_orderdate to its LAST line-item ship
    date; ±1 deltas at the distinct boundary days, one cumulative pass
    over the day grid, and the day-weighted mean / peak WIP fall out —
    the queueing readout (mean WIP = arrival rate × mean latency, by
    Little's-law algebra on the same integers) that sizes how many
    in-flight orders the fulfillment stage must hold at once. Exact
    day-grain integers end to end.

    Scale shape: orders+lineitem collapse to one row per order, then to
    ±1 deltas on DISTINCT days (bounded domain ~2 400 rows — the
    cumulative window is replication-invariant); orders with no line
    items are excluded by construction.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01"))
        .cast("long")
        .alias("start_d"),
    )
    ends = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("end_date"))
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.datediff(F.col("end_date"), F.lit("1990-01-01"))
            .cast("long")
            .alias("end_d"),
        )
    )
    spans = orders.join(ends, "o_orderkey").select("start_d", "end_d")
    deltas = (
        spans.select(F.col("start_d").alias("d"), F.lit(1).alias("delta"))
        .unionByName(
            spans.select(
                (F.col("end_d") + 1).alias("d"), F.lit(-1).alias("delta")
            )
        )
        .groupBy("d")
        .agg(F.sum("delta").cast("long").alias("delta"))
        .localCheckpoint(eager=True)
    )
    # bounded-domain: distinct boundary days only (replication-invariant)
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("d")
    prof = deltas.select(
        "d",
        F.sum("delta").over(wd).cast("long").alias("wip"),
        (F.coalesce(F.lead("d").over(wn), F.col("d") + 1) - F.col("d"))
        .cast("long")
        .alias("seg_len"),
    )
    n_orders = F.broadcast(
        spans.agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("end_d") - F.col("start_d") + 1)
            .cast("long")
            .alias("open_days"),
        )
    )
    return (
        prof.agg(
            F.min("d").cast("long").alias("first_d"),
            F.max("d").cast("long").alias("last_d"),
            F.max("wip").cast("long").alias("peak_wip"),
            # max wip, then EARLIEST day: max over (wip, -d) structs
            F.expr(
                "(-max(struct(wip, -d AS nd)).nd)"
            ).cast("long").alias("peak_day"),
            F.sum(F.col("wip") * F.col("seg_len")).cast("long").alias(
                "wip_day_area"
            ),
        )
        .crossJoin(n_orders)
        .select(
            "n_orders",
            (F.col("last_d") - F.col("first_d")).alias("horizon_days"),
            "peak_wip",
            (F.col("peak_day") - F.col("first_d")).alias("peak_day_off"),
            "wip_day_area",
            F.expr(
                "CAST(wip_day_area * 1000 div (last_d - first_d)"
                " AS BIGINT)"
            ).alias("mean_wip_milli"),
            F.expr(
                "CAST(open_days * 1000 div n_orders AS BIGINT)"
            ).alias("mean_latency_days_milli"),
        )
    )


ESTIMATOR_QUERIES["q378_wip_profile"] = q378_wip_profile

ESTIMATOR_ORACLES["q378_wip_profile"] = """
    WITH spans AS (
      SELECT date_diff('day', DATE '1990-01-01', o.o_orderdate) AS start_d,
             date_diff('day', DATE '1990-01-01', e.end_date) AS end_d
      FROM orders o
      JOIN (SELECT l_orderkey, MAX(l_shipdate) AS end_date
            FROM lineitem GROUP BY l_orderkey) e
        ON o.o_orderkey = e.l_orderkey
    ),
    deltas AS (
      SELECT d, CAST(SUM(delta) AS BIGINT) AS delta FROM (
        SELECT start_d AS d, 1 AS delta FROM spans
        UNION ALL
        SELECT end_d + 1 AS d, -1 AS delta FROM spans
      ) GROUP BY d
    ),
    prof AS (
      SELECT d,
             SUM(delta) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wip,
             COALESCE(LEAD(d) OVER (ORDER BY d), d + 1) - d AS seg_len
      FROM deltas
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(end_d - start_d + 1) AS BIGINT) AS open_days
      FROM spans
    ),
    agg AS (
      SELECT CAST(MIN(d) AS BIGINT) AS first_d,
             CAST(MAX(d) AS BIGINT) AS last_d,
             CAST(MAX(wip) AS BIGINT) AS peak_wip,
             CAST(MIN(CASE WHEN wip = (SELECT MAX(wip) FROM prof)
                           THEN d END) AS BIGINT) AS peak_day,
             CAST(SUM(wip * seg_len) AS BIGINT) AS wip_day_area
      FROM prof
    )
    SELECT t.n_orders,
           a.last_d - a.first_d AS horizon_days,
           a.peak_wip,
           a.peak_day - a.first_d AS peak_day_off,
           a.wip_day_area,
           CAST(a.wip_day_area * 1000 // (a.last_d - a.first_d)
                AS BIGINT) AS mean_wip_milli,
           CAST(t.open_days * 1000 // t.n_orders AS BIGINT)
             AS mean_latency_days_milli
    FROM agg a, tot t
"""


# --- q379: Nelson–Aalen cumulative fulfillment hazard -----------------------------


def q379_fulfillment_hazard(spark, sf_dir):
    """Nelson–Aalen cumulative-hazard ladder for order fulfillment with
    right-censoring — survival analysis done exactly in integers:
    fulfilled orders ('F') die at their last ship date; open/pending
    orders are CENSORED at the corpus horizon (dropping them would be
    the classic survivorship lie — they still occupied the risk set).
    Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ over distinct event days, each term floored
    in ppm identically in both engines, cumulated once, then read out
    at a fixed day ladder {7, 14, 30, 60, 90}. This is the
    q322-retention sibling for in-flight work: "what fraction of the
    fulfillment burden clears by day t" with censoring handled the
    textbook way (Nelson 1972, Aalen 1978).

    Scale shape: orders collapse to one (endpoint-day, is-event) row
    each; risk sets and hazards live on the DISTINCT-day grid (bounded
    domain, ~2 400 rows); the ladder join is 5 broadcast rows.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01"))
        .cast("long")
        .alias("start_d"),
    )
    ends = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.datediff(F.max("l_shipdate"), F.lit("1990-01-01"))
            .cast("long")
            .alias("end_d")
        )
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    spans = orders.join(ends, "o_orderkey").select(
        (F.col("o_orderstatus") == "F").cast("long").alias("event"),
        "start_d",
        "end_d",
    )
    horizon = F.broadcast(
        spans.agg(F.max("end_d").cast("long").alias("hmax"))
    )
    # duration: fulfilled -> ship latency; censored -> horizon - start
    durs = (
        spans.crossJoin(horizon)
        .select(
            "event",
            F.when(
                F.col("event") == 1, F.col("end_d") - F.col("start_d")
            )
            .otherwise(F.col("hmax") - F.col("start_d"))
            .cast("long")
            .alias("t"),
        )
        .groupBy("t")
        .agg(
            F.sum("event").cast("long").alias("d"),
            F.count("*").cast("long").alias("all_t"),
        )
        .localCheckpoint(eager=True)
    )
    n_total = F.broadcast(
        durs.agg(F.sum("all_t").cast("long").alias("n0"))
    )
    # bounded-domain: distinct duration days only (replication-invariant)
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wh = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    grid = (
        durs.crossJoin(n_total)
        .select(
            "t",
            "d",
            (
                F.col("n0")
                - F.coalesce(F.sum("all_t").over(wt), F.lit(0))
            ).alias("at_risk"),
        )
        .select(
            "t",
            "d",
            "at_risk",
            F.expr("CAST(d * 1000000 div at_risk AS BIGINT)").alias(
                "term_ppm"
            ),
        )
        .select(
            "t", F.sum("term_ppm").over(wh).cast("long").alias("h_ppm")
        )
    )
    ladder = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(v).cast("long") for v in (7, 14, 30, 60, 90)])
        ).alias("t_max")
    )
    return (
        grid.crossJoin(F.broadcast(ladder))
        .where(F.col("t") <= F.col("t_max"))
        .groupBy("t_max")
        .agg(F.max("h_ppm").cast("long").alias("cum_hazard_ppm"))
        .orderBy("t_max")
    )


ESTIMATOR_QUERIES["q379_fulfillment_hazard"] = q379_fulfillment_hazard

ESTIMATOR_ORACLES["q379_fulfillment_hazard"] = """
    WITH spans AS (
      SELECT CAST(o.o_orderstatus = 'F' AS BIGINT) AS event,
             date_diff('day', DATE '1990-01-01', o.o_orderdate) AS start_d,
             date_diff('day', DATE '1990-01-01', e.end_date) AS end_d
      FROM orders o
      JOIN (SELECT l_orderkey, MAX(l_shipdate) AS end_date
            FROM lineitem GROUP BY l_orderkey) e
        ON o.o_orderkey = e.l_orderkey
    ),
    horizon AS (SELECT MAX(end_d) AS hmax FROM spans),
    durs AS (
      SELECT t, CAST(SUM(event) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS all_t
      FROM (
        SELECT event,
               CASE WHEN event = 1 THEN end_d - start_d
                    ELSE h.hmax - start_d END AS t
        FROM spans, horizon h
      ) GROUP BY t
    ),
    n_total AS (SELECT CAST(SUM(all_t) AS BIGINT) AS n0 FROM durs),
    grid AS (
      SELECT t, d,
             n.n0 - COALESCE(SUM(all_t) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS at_risk
      FROM durs, n_total n
    ),
    haz AS (
      SELECT t,
             SUM(CAST(d * 1000000 // at_risk AS BIGINT)) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h_ppm
      FROM grid
    ),
    ladder AS (SELECT UNNEST([7, 14, 30, 60, 90]) AS t_max)
    SELECT CAST(l.t_max AS BIGINT) AS t_max,
           CAST(MAX(h.h_ppm) AS BIGINT) AS cum_hazard_ppm
    FROM haz h JOIN ladder l ON h.t <= l.t_max
    GROUP BY l.t_max ORDER BY t_max
"""


# --- q380: empirical-Bayes shrinkage of per-source means --------------------------


def q380_eb_shrinkage(spark, sf_dir):
    """Empirical-Bayes (James–Stein-flavored) shrinkage of per-source
    mean quality toward the grand mean, with the prior strength k̂
    ESTIMATED from the data by one-way method of moments
    (k̂ = MSW·n̄/(MSB−MSW) — Efron & Morris 1975's machinery in exact
    integers, every term floored identically in both engines): a
    20-doc source's flattering average gets pulled hard, a 2 000-doc
    source barely moves. This is the difference between ranking
    sources by noise and ranking them by evidence when the mixture
    table (q335) is built from small per-domain samples. All
    arithmetic division-LAST per term; shrunk means stay in the 10⁻⁴
    quality scale.

    Scale shape: ONE corpus aggregate to per-source (n, Σq, Σq²); the
    MoM and shrinkage algebra run on ≤ sources rows + a broadcast
    1-row grand total.
    """
    from adhesive_spark.operators.text import quality_score, scaled_long
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    per = (
        docs.select(
            "source", scaled_long(quality_score(F.col("text")), 4).alias("q")
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("q").cast("long").alias("sq"),
            F.sum(F.col("q") * F.col("q")).cast("long").alias("qq"),
        )
        .localCheckpoint(eager=True)
    )
    grand = F.broadcast(
        per.agg(
            F.sum("n").cast("long").alias("nn"),
            F.sum("sq").cast("long").alias("ss"),
            F.count("*").cast("long").alias("g"),
            # per-term-floored within/between sums of squares
            F.sum(
                F.expr(
                    "(CAST(qq AS DECIMAL(38,0)) * n"
                    " - CAST(sq AS DECIMAL(38,0)) * sq) div n"
                )
            )
            .cast("long")
            .alias("ssw"),
        )
    )
    ssb = (
        per.crossJoin(grand)
        .select(
            F.expr(
                "CAST((CAST(sq AS DECIMAL(38,0)) * nn"
                "      - CAST(ss AS DECIMAL(38,0)) * n)"
                "     * (CAST(sq AS DECIMAL(38,0)) * nn"
                "        - CAST(ss AS DECIMAL(38,0)) * n)"
                " div (CAST(n AS DECIMAL(38,0)) * nn * nn) AS BIGINT)"
            ).alias("term")
        )
        .agg(F.sum("term").cast("long").alias("ssb"))
    )
    k = F.broadcast(
        ssb.crossJoin(grand).select(
            "nn",
            "ss",
            "g",
            "ssw",
            "ssb",
            # MSW = ssw/(N-G), MSB = ssb/(G-1), n̄ = N/G;
            # k̂_milli = 1000·MSW·n̄ / max(MSB − MSW, 1)
            F.expr(
                "CAST(CAST(ssw AS DECIMAL(38,0)) * nn * (g - 1) * 1000"
                " div greatest((nn - g) * g *"
                "   greatest(CAST(ssb AS DECIMAL(38,0)) div (g - 1)"
                "            - CAST(ssw AS DECIMAL(38,0)) div (nn - g), 1)"
                " , 1) AS BIGINT)"
            ).alias("k_milli"),
        )
    )
    return (
        per.crossJoin(k)
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.expr("CAST(sq div n AS BIGINT)").alias("raw_mean_q4"),
            F.expr(
                "CAST((CAST(sq AS DECIMAL(38,0)) * nn * 1000"
                "      + CAST(k_milli AS DECIMAL(38,0)) * ss)"
                " div (CAST(nn AS DECIMAL(38,0))"
                "      * (n * 1000 + k_milli)) AS BIGINT)"
            ).alias("shrunk_mean_q4"),
            "k_milli",
        )
        .select(
            "source",
            "n_docs",
            "raw_mean_q4",
            "shrunk_mean_q4",
            (F.col("shrunk_mean_q4") - F.col("raw_mean_q4")).alias(
                "shift_q4"
            ),
            "k_milli",
        )
        .orderBy("source")
    )


ESTIMATOR_QUERIES["q380_eb_shrinkage"] = q380_eb_shrinkage


def _eb_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT source, text, {_TOKS} AS toks FROM documents
    ),
    scored AS (
      SELECT source,
             CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS q
      FROM t
    ),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS sq,
             CAST(SUM(q * q) AS BIGINT) AS qq
      FROM scored GROUP BY source
    ),
    grand AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(sq) AS BIGINT) AS ss,
             CAST(COUNT(*) AS BIGINT) AS g,
             CAST(SUM((CAST(qq AS HUGEINT) * n
                       - CAST(sq AS HUGEINT) * sq) // n) AS BIGINT)
               AS ssw
      FROM per
    ),
    ssb_t AS (
      SELECT CAST(SUM((CAST(p.sq AS HUGEINT) * gr.nn
                       - CAST(gr.ss AS HUGEINT) * p.n)
                      * (CAST(p.sq AS HUGEINT) * gr.nn
                         - CAST(gr.ss AS HUGEINT) * p.n)
                      // (CAST(p.n AS HUGEINT) * gr.nn * gr.nn))
                  AS BIGINT) AS ssb
      FROM per p, grand gr
    ),
    kk AS (
      SELECT gr.nn, gr.ss, gr.g, gr.ssw, s.ssb,
             CAST(CAST(gr.ssw AS HUGEINT) * gr.nn * (gr.g - 1) * 1000
                  // GREATEST((gr.nn - gr.g) * gr.g *
                       GREATEST(CAST(s.ssb AS HUGEINT) // (gr.g - 1)
                                - CAST(gr.ssw AS HUGEINT) // (gr.nn - gr.g),
                                1), 1) AS BIGINT) AS k_milli
      FROM grand gr, ssb_t s
    )
    SELECT p.source, p.n AS n_docs,
           CAST(p.sq // p.n AS BIGINT) AS raw_mean_q4,
           CAST((CAST(p.sq AS HUGEINT) * k.nn * 1000
                 + CAST(k.k_milli AS HUGEINT) * k.ss)
                // (CAST(k.nn AS HUGEINT) * (p.n * 1000 + k.k_milli))
                AS BIGINT) AS shrunk_mean_q4,
           CAST((CAST(p.sq AS HUGEINT) * k.nn * 1000
                 + CAST(k.k_milli AS HUGEINT) * k.ss)
                // (CAST(k.nn AS HUGEINT) * (p.n * 1000 + k.k_milli))
                - p.sq // p.n AS BIGINT) AS shift_q4,
           k.k_milli
    FROM per p, kk k ORDER BY p.source
    """


ESTIMATOR_ORACLES["q380_eb_shrinkage"] = _eb_oracle()


# --- q381: survey ratio estimator vs expansion estimator --------------------------


def q381_ratio_estimator(spark, sf_dir):
    """Survey-sampling ratio estimator audit: estimate the corpus's
    total TOKEN count from a deterministic 10% hash sample, (a) by
    plain expansion (ŷ_exp = N/n·Σy_s) and (b) by the ratio estimator
    against the KNOWN auxiliary total of characters
    (ŷ_ratio = t_x·Σy_s/Σx_s — Cochran 1977 §6): tokens track chars
    almost linearly, so the ratio estimator should land an order of
    magnitude closer. This is the "price a full tokenizer pass from a
    sample + cheap metadata" pattern — t_x comes from file statistics
    at 100 TB, no text read. Division last; both estimates and their
    signed errors shipped in exact integers.

    Scale shape: one corpus aggregate carrying (full totals, sample
    totals via hash-filtered conditional sums) — a SINGLE pass, no
    second scan for the sample.
    """
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import token_count
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        F.col("n_chars").cast("long").alias("x"),
        token_count(F.col("text")).cast("long").alias("y"),
        (
            portable_hash32(
                F.concat(F.lit("rs:"), F.col("doc_id").cast("string"))
            )
            % 10
            == 0
        )
        .cast("long")
        .alias("s"),
    )
    agg = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("x").cast("long").alias("t_x"),
        F.sum("y").cast("long").alias("t_y_true"),
        F.sum("s").cast("long").alias("n_sample"),
        F.sum(F.col("x") * F.col("s")).cast("long").alias("sx"),
        F.sum(F.col("y") * F.col("s")).cast("long").alias("sy"),
    )
    return agg.select(
        "n_docs",
        "n_sample",
        "t_x",
        "t_y_true",
        F.expr(
            "CAST(CAST(sy AS DECIMAL(38,0)) * n_docs"
            " div greatest(n_sample, 1) AS BIGINT)"
        ).alias("t_hat_expansion"),
        F.expr(
            "CAST(CAST(sy AS DECIMAL(38,0)) * t_x"
            " div greatest(sx, 1) AS BIGINT)"
        ).alias("t_hat_ratio"),
        F.expr(
            "CAST(abs(CAST(sy AS DECIMAL(38,0)) * n_docs"
            "         div greatest(n_sample, 1) - t_y_true)"
            " * 1000000 div t_y_true AS BIGINT)"
        ).alias("err_expansion_ppm"),
        F.expr(
            "CAST(abs(CAST(sy AS DECIMAL(38,0)) * t_x"
            "         div greatest(sx, 1) - t_y_true)"
            " * 1000000 div t_y_true AS BIGINT)"
        ).alias("err_ratio_ppm"),
    )


ESTIMATOR_QUERIES["q381_ratio_estimator"] = q381_ratio_estimator


def _ratio_oracle() -> str:
    pred = _h32("md5('rs:' || CAST(doc_id AS VARCHAR))") + " % 10 = 0"
    return f"""
    WITH base AS (
      SELECT CAST(n_chars AS BIGINT) AS x,
             CAST(len({_TOKS}) AS BIGINT) AS y,
             CAST({pred} AS BIGINT) AS s
      FROM documents
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(x) AS BIGINT) AS t_x,
             CAST(SUM(y) AS BIGINT) AS t_y_true,
             CAST(SUM(s) AS BIGINT) AS n_sample,
             CAST(SUM(x * s) AS BIGINT) AS sx,
             CAST(SUM(y * s) AS BIGINT) AS sy
      FROM base
    )
    SELECT n_docs, n_sample, t_x, t_y_true,
           CAST(CAST(sy AS HUGEINT) * n_docs // GREATEST(n_sample, 1)
                AS BIGINT) AS t_hat_expansion,
           CAST(CAST(sy AS HUGEINT) * t_x // GREATEST(sx, 1) AS BIGINT)
             AS t_hat_ratio,
           CAST(ABS(CAST(sy AS HUGEINT) * n_docs // GREATEST(n_sample, 1)
                    - t_y_true) * 1000000 // t_y_true AS BIGINT)
             AS err_expansion_ppm,
           CAST(ABS(CAST(sy AS HUGEINT) * t_x // GREATEST(sx, 1)
                    - t_y_true) * 1000000 // t_y_true AS BIGINT)
             AS err_ratio_ppm
    FROM agg
    """


ESTIMATOR_ORACLES["q381_ratio_estimator"] = _ratio_oracle()


# --- q382: stratification design effect -------------------------------------------


def q382_design_effect(spark, sf_dir):
    """Design-effect audit for proportional stratification by source:
    deff = σ²_within/σ²_total — the fraction of sampling variance a
    proportionally-allocated stratified sample KEEPS relative to simple
    random sampling (Kish 1965 §8; the between-strata share is exactly
    what stratification deletes). Computed from one-pass moment sums
    with the per-term-floored SSW/SSB decomposition (same integers as
    q380's MoM), so SSW + SSB reconciles to SST up to the documented
    per-term floors. deff near 10⁶ ppm says the strata don't separate
    quality — stratifying buys nothing; a low deff is the measured
    license to cut sample sizes by that factor (the q329 planner's n
    scales by deff).

    Scale shape: ONE corpus aggregate to per-source moments; the
    decomposition is ≤ sources rows + a broadcast grand total; output
    is a single row.
    """
    from adhesive_spark.operators.text import quality_score, scaled_long
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    per = (
        docs.select(
            "source", scaled_long(quality_score(F.col("text")), 4).alias("q")
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("q").cast("long").alias("sq"),
            F.sum(F.col("q") * F.col("q")).cast("long").alias("qq"),
        )
        .localCheckpoint(eager=True)
    )
    grand = F.broadcast(
        per.agg(
            F.sum("n").cast("long").alias("nn"),
            F.sum("sq").cast("long").alias("ss"),
            F.sum("qq").cast("long").alias("tt"),
            F.count("*").cast("long").alias("g"),
            F.sum(
                F.expr(
                    "(CAST(qq AS DECIMAL(38,0)) * n"
                    " - CAST(sq AS DECIMAL(38,0)) * sq) div n"
                )
            )
            .cast("long")
            .alias("ssw"),
        )
    )
    ssb = (
        per.crossJoin(grand)
        .select(
            F.expr(
                "CAST((CAST(sq AS DECIMAL(38,0)) * nn"
                "      - CAST(ss AS DECIMAL(38,0)) * n)"
                "     * (CAST(sq AS DECIMAL(38,0)) * nn"
                "        - CAST(ss AS DECIMAL(38,0)) * n)"
                " div (CAST(n AS DECIMAL(38,0)) * nn * nn) AS BIGINT)"
            ).alias("term")
        )
        .agg(F.sum("term").cast("long").alias("ssb"))
    )
    return ssb.crossJoin(grand).select(
        F.col("nn").alias("n_docs"),
        F.col("g").alias("n_strata"),
        F.expr(
            "CAST((CAST(tt AS DECIMAL(38,0)) * nn"
            "      - CAST(ss AS DECIMAL(38,0)) * ss) div nn AS BIGINT)"
        ).alias("sst_scaled"),
        F.col("ssw").alias("ssw_scaled"),
        F.col("ssb").alias("ssb_scaled"),
        F.expr(
            "CAST(CAST(ssw AS DECIMAL(38,0)) * 1000000"
            " div greatest((CAST(tt AS DECIMAL(38,0)) * nn"
            "               - CAST(ss AS DECIMAL(38,0)) * ss) div nn, 1)"
            " AS BIGINT)"
        ).alias("deff_ppm"),
        F.expr(
            "CAST(CAST(ssb AS DECIMAL(38,0)) * 1000000"
            " div greatest((CAST(tt AS DECIMAL(38,0)) * nn"
            "               - CAST(ss AS DECIMAL(38,0)) * ss) div nn, 1)"
            " AS BIGINT)"
        ).alias("between_share_ppm"),
    )


ESTIMATOR_QUERIES["q382_design_effect"] = q382_design_effect


def _deff_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT source, text, {_TOKS} AS toks FROM documents
    ),
    scored AS (
      SELECT source,
             CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS q
      FROM t
    ),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS sq,
             CAST(SUM(q * q) AS BIGINT) AS qq
      FROM scored GROUP BY source
    ),
    grand AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(sq) AS BIGINT) AS ss,
             CAST(SUM(qq) AS BIGINT) AS tt,
             CAST(COUNT(*) AS BIGINT) AS g,
             CAST(SUM((CAST(qq AS HUGEINT) * n
                       - CAST(sq AS HUGEINT) * sq) // n) AS BIGINT)
               AS ssw
      FROM per
    ),
    ssb_t AS (
      SELECT CAST(SUM((CAST(p.sq AS HUGEINT) * gr.nn
                       - CAST(gr.ss AS HUGEINT) * p.n)
                      * (CAST(p.sq AS HUGEINT) * gr.nn
                         - CAST(gr.ss AS HUGEINT) * p.n)
                      // (CAST(p.n AS HUGEINT) * gr.nn * gr.nn))
                  AS BIGINT) AS ssb
      FROM per p, grand gr
    )
    SELECT gr.nn AS n_docs, gr.g AS n_strata,
           CAST((CAST(gr.tt AS HUGEINT) * gr.nn
                 - CAST(gr.ss AS HUGEINT) * gr.ss) // gr.nn AS BIGINT)
             AS sst_scaled,
           gr.ssw AS ssw_scaled,
           s.ssb AS ssb_scaled,
           CAST(CAST(gr.ssw AS HUGEINT) * 1000000
                // GREATEST((CAST(gr.tt AS HUGEINT) * gr.nn
                             - CAST(gr.ss AS HUGEINT) * gr.ss) // gr.nn, 1)
                AS BIGINT) AS deff_ppm,
           CAST(CAST(s.ssb AS HUGEINT) * 1000000
                // GREATEST((CAST(gr.tt AS HUGEINT) * gr.nn
                             - CAST(gr.ss AS HUGEINT) * gr.ss) // gr.nn, 1)
                AS BIGINT) AS between_share_ppm
    FROM grand gr, ssb_t s
    """


ESTIMATOR_ORACLES["q382_design_effect"] = _deff_oracle()


# --- q383: hourly load-factor profile ---------------------------------------------


def q383_load_factor(spark, sf_dir):
    """Hourly load-factor profile of the event stream: peak-hour load,
    span-mean load, their ratio (the load factor every capacity plan is
    sized by — ingest provisioned for the MEAN melts at the peak), the
    exact p95 busy-hour, and how many hours of the span carried traffic
    at all. Hour keys are epoch-hours (UTC in both engines), p95 comes
    off the distinct-value grain of the hourly counts — no sort of the
    hour table. The q371 sibling: that one says WHICH weekday, this one
    says how spiky the worst hour is.

    Scale shape: events collapse to ≤ span-hours counter rows in one
    aggregate; everything else runs on that bounded table.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(unix_timestamp(ts) div 3600 AS BIGINT)").alias("h")
    )
    hourly = (
        ev.groupBy("h")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    # p95 busy-hour via distinct-count-value cumulative
    by_val = hourly.groupBy("c").agg(
        F.count("*").cast("long").alias("hrs")
    )
    tot = F.broadcast(
        hourly.agg(
            F.sum("c").cast("long").alias("n_events"),
            F.count("*").cast("long").alias("active_hours"),
            F.min("h").cast("long").alias("h0"),
            F.max("h").cast("long").alias("h1"),
            F.max("c").cast("long").alias("peak"),
        )
    )
    # bounded-domain: distinct hourly-count values only
    wv = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    p95 = (
        by_val.select("c", F.sum("hrs").over(wv).alias("cum"))
        .crossJoin(tot)
        .where(F.col("cum") * 20 >= F.col("active_hours") * 19)
        .agg(F.min("c").cast("long").alias("p95_hour_events"))
    )
    return tot.crossJoin(F.broadcast(p95)).select(
        "n_events",
        (F.col("h1") - F.col("h0") + 1).alias("span_hours"),
        "active_hours",
        F.col("peak").alias("peak_hour_events"),
        "p95_hour_events",
        F.expr(
            "CAST(n_events * 1000 div (h1 - h0 + 1) AS BIGINT)"
        ).alias("mean_per_hour_milli"),
        F.expr(
            "CAST(n_events * 1000000 div ((h1 - h0 + 1) * peak)"
            " AS BIGINT)"
        ).alias("load_factor_ppm"),
    )


ESTIMATOR_QUERIES["q383_load_factor"] = q383_load_factor

ESTIMATOR_ORACLES["q383_load_factor"] = """
    WITH hourly AS (
      -- floor, not CAST: epoch() is a DOUBLE with fractional seconds
      -- and CAST rounds where Spark's unix_timestamp truncates
      SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS active_hours,
             CAST(MIN(h) AS BIGINT) AS h0,
             CAST(MAX(h) AS BIGINT) AS h1,
             CAST(MAX(c) AS BIGINT) AS peak
      FROM hourly
    ),
    by_val AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS hrs
      FROM hourly GROUP BY c
    ),
    p95 AS (
      SELECT CAST(MIN(c) AS BIGINT) AS p95_hour_events
      FROM (
        SELECT c, SUM(hrs) OVER (ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM by_val
      ), tot
      WHERE cum * 20 >= active_hours * 19
    )
    SELECT n_events, h1 - h0 + 1 AS span_hours, active_hours,
           peak AS peak_hour_events, p95_hour_events,
           CAST(n_events * 1000 // (h1 - h0 + 1) AS BIGINT)
             AS mean_per_hour_milli,
           CAST(n_events * 1000000 // ((h1 - h0 + 1) * peak) AS BIGINT)
             AS load_factor_ppm
    FROM tot, p95
"""


# --- q384: SLO attainment by priority class ---------------------------------------


def q384_priority_slo(spark, sf_dir):
    """Fulfillment-SLO attainment by order priority: per priority
    class, the exact median ship latency (distinct-value grain), the
    mean in milli-days, and the share fulfilled inside a 90-day SLA —
    the table that says whether '1-URGENT' is an SLO or a label. The
    queueing complement of q378 (WIP) and q379 (hazard): same spans,
    sliced by the dimension an operator can actually re-prioritize.

    Scale shape: orders+lineitem collapse to one (priority, latency)
    row per order; medians come off the per-priority distinct-latency
    cumulative (bounded domain); output is 5 rows.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    ends = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("end_date"))
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    lat = (
        orders.join(ends, "o_orderkey")
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.col("end_date"), F.col("o_orderdate"))
            .cast("long")
            .alias("lat_d"),
        )
        .groupBy("priority", "lat_d")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    n_per = lat.groupBy("priority").agg(
        F.sum("c").cast("long").alias("n_orders"),
        F.sum(F.col("lat_d") * F.col("c")).cast("long").alias("lat_sum"),
        F.sum(F.when(F.col("lat_d") <= 90, F.col("c")).otherwise(0))
        .cast("long")
        .alias("within_sla"),
    )
    wcum = (
        Window.partitionBy("priority")
        .orderBy("lat_d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    med = (
        lat.select(
            "priority", "lat_d", F.sum("c").over(wcum).alias("cum")
        )
        .join(n_per.select("priority", "n_orders"), "priority")
        .where(F.col("cum") * 2 >= F.col("n_orders"))
        .groupBy("priority")
        .agg(F.min("lat_d").cast("long").alias("p50_latency_days"))
    )
    return (
        n_per.join(med, "priority")
        .select(
            "priority",
            "n_orders",
            "p50_latency_days",
            F.expr(
                "CAST(lat_sum * 1000 div n_orders AS BIGINT)"
            ).alias("mean_latency_milli"),
            F.expr(
                "CAST(within_sla * 1000000 div n_orders AS BIGINT)"
            ).alias("sla90_ppm"),
        )
        .orderBy("priority")
    )


ESTIMATOR_QUERIES["q384_priority_slo"] = q384_priority_slo

ESTIMATOR_ORACLES["q384_priority_slo"] = """
    WITH lat AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', o.o_orderdate, e.end_date) AS lat_d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders o
      JOIN (SELECT l_orderkey, MAX(l_shipdate) AS end_date
            FROM lineitem GROUP BY l_orderkey) e
        ON o.o_orderkey = e.l_orderkey
      GROUP BY 1, 2
    ),
    n_per AS (
      SELECT priority,
             CAST(SUM(c) AS BIGINT) AS n_orders,
             CAST(SUM(lat_d * c) AS BIGINT) AS lat_sum,
             CAST(SUM(CASE WHEN lat_d <= 90 THEN c ELSE 0 END) AS BIGINT)
               AS within_sla
      FROM lat GROUP BY priority
    ),
    med AS (
      SELECT x.priority, CAST(MIN(x.lat_d) AS BIGINT) AS p50_latency_days
      FROM (
        SELECT priority, lat_d,
               SUM(c) OVER (PARTITION BY priority ORDER BY lat_d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM lat
      ) x JOIN n_per np ON x.priority = np.priority
      WHERE x.cum * 2 >= np.n_orders
      GROUP BY x.priority
    )
    SELECT np.priority, np.n_orders, m.p50_latency_days,
           CAST(np.lat_sum * 1000 // np.n_orders AS BIGINT)
             AS mean_latency_milli,
           CAST(np.within_sla * 1000000 // np.n_orders AS BIGINT)
             AS sla90_ppm
    FROM n_per np JOIN med m ON np.priority = m.priority
    ORDER BY np.priority
"""


# --- q385: RFM segmentation ---------------------------------------------------------


def q385_rfm_segments(spark, sf_dir):
    """RFM (recency / frequency / monetary) segmentation of the
    customer base — the classic warehouse cohorting done with
    replication-invariant quintiles: each customer gets three 1–5
    codes (ascending value-grain quintiles of days-since-last-order,
    order count, and lifetime cents), and the output is the segment
    census with its revenue. The whale segment (f=5, m=5) is the q375
    Lorenz head with a name; the (r=5, m=5) cell is churned high-value
    — the rows a retention budget is spent on. Code assignment at the
    distinct-VALUE grain (equal metrics ⇒ equal codes, any replication
    ⇒ same codes).

    Scale shape: orders collapse to one row per customer; the three
    quintile tables live on distinct metric values (≤ customers);
    output ≤ 125 segment rows.
    """
    return rfm_report(load_table(spark, sf_dir, "orders"))


def rfm_report(orders):
    """DF-level core of q385 (any orders DataFrame) — shared with the
    stress harness (fixed customer key space ⇒ per-customer groups grow
    N× wide under replication; codes are replication-invariant)."""
    horizon = F.broadcast(
        orders.agg(F.max("o_orderdate").alias("h_date"))
    )
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").cast("long").alias("freq"),
            F.sum(
                F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)")
            ).cast("long").alias("monet"),
        )
        .crossJoin(horizon)
        .select(
            "o_custkey",
            F.datediff(F.col("h_date"), F.col("last_order"))
            .cast("long")
            .alias("recency_d"),
            "freq",
            "monet",
        )
        .transform(checkpoint_corpus)
    )
    n_all = F.broadcast(
        per_cust.agg(F.count("*").cast("long").alias("n_cust_all"))
    )

    def _code(metric):
        by_val = per_cust.groupBy(metric).agg(
            F.count("*").cast("long").alias("cnt")
        )
        wv = Window.orderBy(metric).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return (
            by_val.select(
                metric,
                F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("cb"),
            )
            .crossJoin(n_all)
            .select(
                metric,
                F.expr(
                    "CAST(least(5, 1 + cb * 5 div n_cust_all) AS BIGINT)"
                ).alias(f"{metric}_code"),
            )
        )

    coded = (
        per_cust.join(F.broadcast(_code("recency_d")), "recency_d")
        .join(F.broadcast(_code("freq")), "freq")
        .join(F.broadcast(_code("monet")), "monet")
    )
    return (
        coded.groupBy(
            F.col("recency_d_code").alias("r_code"),
            F.col("freq_code").alias("f_code"),
            F.col("monet_code").alias("m_code"),
        )
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.sum("monet").cast("long").alias("segment_cents"),
        )
        .orderBy("r_code", "f_code", "m_code")
    )


ESTIMATOR_QUERIES["q385_rfm_segments"] = q385_rfm_segments

ESTIMATOR_ORACLES["q385_rfm_segments"] = """
    WITH horizon AS (SELECT MAX(o_orderdate) AS h_date FROM orders),
    per_cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(o_orderdate),
                            (SELECT h_date FROM horizon)) AS BIGINT)
               AS recency_d,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS monet
      FROM orders GROUP BY o_custkey
    ),
    n_all AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cust_all FROM per_cust),
    r_code AS (
      SELECT recency_d,
             LEAST(5, 1 + COALESCE(SUM(cnt) OVER (ORDER BY recency_d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               * 5 // n_cust_all) AS recency_d_code
      FROM (SELECT recency_d, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM per_cust GROUP BY recency_d), n_all
    ),
    f_code AS (
      SELECT freq,
             LEAST(5, 1 + COALESCE(SUM(cnt) OVER (ORDER BY freq
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               * 5 // n_cust_all) AS freq_code
      FROM (SELECT freq, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM per_cust GROUP BY freq), n_all
    ),
    m_code AS (
      SELECT monet,
             LEAST(5, 1 + COALESCE(SUM(cnt) OVER (ORDER BY monet
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               * 5 // n_cust_all) AS monet_code
      FROM (SELECT monet, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM per_cust GROUP BY monet), n_all
    )
    SELECT CAST(r.recency_d_code AS BIGINT) AS r_code,
           CAST(f.freq_code AS BIGINT) AS f_code,
           CAST(m.monet_code AS BIGINT) AS m_code,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(p.monet) AS BIGINT) AS segment_cents
    FROM per_cust p
    JOIN r_code r ON p.recency_d = r.recency_d
    JOIN f_code f ON p.freq = f.freq
    JOIN m_code m ON p.monet = m.monet
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


# --- q386: regional supply concentration --------------------------------------------


def q386_region_supply_hhi(spark, sf_dir):
    """Regional supply-chain concentration: revenue-share HHI of
    suppliers WITHIN each region (lineitem→supplier→nation→region — the
    q362 concentration math pushed through the TPC-H join graph), plus
    the top supplier's share and the inverse-Simpson effective supplier
    count. A region whose eff_suppliers is 3 when 40 exist is one
    supplier outage away from a stockout — and in pipeline terms, the
    same query shapes "which storage region depends on one data
    producer". Dimension tables broadcast; cents-exact.

    Scale shape: the fact table aggregates ONCE to (supplier, revenue);
    the three dimension hops are broadcast joins on that collapsed
    table; HHI math runs on ≤ suppliers rows.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_suppkey",
            F.expr(
                "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    reg = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    per_supp = (
        li.join(
            F.broadcast(supp), li.l_suppkey == supp.s_suppkey
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(F.col("r_name").alias("region"), "rev")
    )
    per = per_supp.groupBy("region").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        F.sum("rev").cast("long").alias("revenue_cents"),
        F.max("rev").cast("long").alias("top_rev"),
        F.sum(
            F.expr("CAST(rev AS DECIMAL(38,0)) * rev")
        ).alias("sr2"),
    )
    return per.select(
        "region",
        "n_suppliers",
        "revenue_cents",
        F.expr(
            "CAST(top_rev * 1000000 div revenue_cents AS BIGINT)"
        ).alias("top_share_ppm"),
        F.expr(
            "CAST(sr2 * 1000000"
            " div (CAST(revenue_cents AS DECIMAL(38,0)) * revenue_cents)"
            " AS BIGINT)"
        ).alias("hhi_ppm"),
        F.expr(
            "CAST(CAST(revenue_cents AS DECIMAL(38,0)) * revenue_cents"
            " * 1000 div greatest(sr2, 1) AS BIGINT)"
        ).alias("eff_suppliers_milli"),
    ).orderBy("region")


ESTIMATOR_QUERIES["q386_region_supply_hhi"] = q386_region_supply_hhi

ESTIMATOR_ORACLES["q386_region_supply_hhi"] = """
    WITH li AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev
      FROM lineitem GROUP BY l_suppkey
    ),
    per_supp AS (
      SELECT r.r_name AS region, li.rev
      FROM li
      JOIN supplier s ON li.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    per AS (
      SELECT region,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CAST(SUM(rev) AS BIGINT) AS revenue_cents,
             CAST(MAX(rev) AS BIGINT) AS top_rev,
             SUM(CAST(rev AS HUGEINT) * rev) AS sr2
      FROM per_supp GROUP BY region
    )
    SELECT region, n_suppliers, revenue_cents,
           CAST(top_rev * 1000000 // revenue_cents AS BIGINT)
             AS top_share_ppm,
           CAST(sr2 * 1000000
                // (CAST(revenue_cents AS HUGEINT) * revenue_cents)
                AS BIGINT) AS hhi_ppm,
           CAST(CAST(revenue_cents AS HUGEINT) * revenue_cents * 1000
                // GREATEST(sr2, 1) AS BIGINT) AS eff_suppliers_milli
    FROM per ORDER BY region
"""


# --- q387: budget-controlled type-token ratio ladder -------------------------------


def q387_ttr_ladder(spark, sf_dir):
    """Type-token ratio at FIXED token budgets (first 16/32/64 tokens
    per document): raw TTR falls mechanically with length, so comparing
    sources on it is comparing their length mix — the standardized
    ladder (the idea behind MSTTR/MTLD, McCarthy & Jarvis 2010) slices
    every document to the same budget before counting types, making the
    per-source lexical-diversity ranking length-fair. The q324
    (length-bias) lesson applied to a diversity metric.

    Scale shape: the slice+distinct runs IN-ROW (array ops — no gram
    explode, no shuffle); the only aggregate is the (source, budget)
    rollup over a broadcast 3-row budget spine.
    """
    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    budgets = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(v).cast("long") for v in (16, 32, 64)])
        ).alias("budget")
    )
    per_doc = (
        docs.select("source", tokens(F.col("text")).alias("toks"))
        .crossJoin(F.broadcast(budgets))
        .where(F.size("toks") >= F.col("budget"))
        .select(
            "source",
            "budget",
            F.size(
                F.array_distinct(
                    F.slice(F.col("toks"), 1, F.col("budget"))
                )
            )
            .cast("long")
            .alias("types"),
        )
    )
    return (
        per_doc.groupBy("source", "budget")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("types").cast("long").alias("types_sum"),
        )
        .select(
            "source",
            "budget",
            "n_docs",
            F.expr(
                "CAST(types_sum * 1000 div (n_docs * budget) AS BIGINT)"
            ).alias("ttr_milli"),
        )
        .orderBy("source", "budget")
    )


ESTIMATOR_QUERIES["q387_ttr_ladder"] = q387_ttr_ladder

ESTIMATOR_ORACLES["q387_ttr_ladder"] = f"""
    WITH t AS (
      SELECT source, {_TOKS} AS toks FROM documents
    ),
    budgets AS (SELECT UNNEST([16, 32, 64]) AS budget),
    per_doc AS (
      SELECT source, b.budget,
             CAST(len(list_distinct(toks[1:b.budget])) AS BIGINT) AS types
      FROM t CROSS JOIN budgets b
      WHERE len(toks) >= b.budget
    )
    SELECT source, CAST(budget AS BIGINT) AS budget,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(types) * 1000 // (COUNT(*) * budget) AS BIGINT)
             AS ttr_milli
    FROM per_doc GROUP BY source, budget ORDER BY source, budget
"""


# --- q388: sessionization gap-threshold sweep ---------------------------------------


def q388_session_gap_sweep(spark, sf_dir):
    """Sessionization knob audit: how do session count, mean session
    length, and mean sessions-per-user respond as the inactivity-gap
    threshold sweeps 5/15/30/60 minutes? Every downstream
    engagement/funnel metric inherits this knob invisibly — the sweep
    is computed from ONE lag pass (each user's inter-event gaps in
    epoch seconds), then four conditional aggregates over the same gap
    rows; no re-sessionization per rung. The q312/q330 ladder pattern
    applied to the session boundary.

    Scale shape: one user-key window pass (partition-parallel across
    users); the ladder is 4 conditional sums over the gap rows against
    a broadcast spine — the event table is scanned once.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("CAST(unix_timestamp(ts) AS BIGINT)").alias("es")
    )
    wu = Window.partitionBy("user_id").orderBy("es")
    gaps = ev.select(
        "user_id",
        (F.col("es") - F.lag("es").over(wu)).alias("gap_s"),
    ).transform(checkpoint_corpus)
    spine = spark.range(1).select(
        F.explode(
            F.array(
                *[F.lit(v).cast("long") for v in (300, 900, 1800, 3600)]
            )
        ).alias("gap_thr_s")
    )
    return (
        gaps.crossJoin(F.broadcast(spine))
        .groupBy("gap_thr_s")
        .agg(
            F.count_if(F.col("gap_s").isNull()).cast("long").alias(
                "n_users"
            ),
            F.count("*").cast("long").alias("n_events"),
            # a session starts at each user's first event (gap NULL)
            # and at every gap above the threshold
            F.count_if(
                F.col("gap_s").isNull()
                | (F.col("gap_s") > F.col("gap_thr_s"))
            )
            .cast("long")
            .alias("n_sessions"),
        )
        .select(
            "gap_thr_s",
            "n_users",
            "n_sessions",
            F.expr(
                "CAST(n_events * 1000 div n_sessions AS BIGINT)"
            ).alias("mean_session_events_milli"),
            F.expr(
                "CAST(n_sessions * 1000 div n_users AS BIGINT)"
            ).alias("sessions_per_user_milli"),
        )
        .orderBy("gap_thr_s")
    )


ESTIMATOR_QUERIES["q388_session_gap_sweep"] = q388_session_gap_sweep

ESTIMATOR_ORACLES["q388_session_gap_sweep"] = """
    WITH ev AS (
      -- floor, not CAST: epoch() is a DOUBLE with fractional seconds
      -- and CAST rounds where Spark's unix_timestamp truncates
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events
    ),
    gaps AS (
      SELECT user_id,
             es - LAG(es) OVER (PARTITION BY user_id ORDER BY es) AS gap_s
      FROM ev
    ),
    spine AS (SELECT UNNEST([300, 900, 1800, 3600]) AS gap_thr_s)
    SELECT CAST(s.gap_thr_s AS BIGINT) AS gap_thr_s,
           CAST(COUNT(*) FILTER (WHERE g.gap_s IS NULL) AS BIGINT)
             AS n_users,
           CAST(COUNT(*) FILTER (WHERE g.gap_s IS NULL
                OR g.gap_s > s.gap_thr_s) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) * 1000 // COUNT(*) FILTER (WHERE g.gap_s IS NULL
                OR g.gap_s > s.gap_thr_s) AS BIGINT)
             AS mean_session_events_milli,
           CAST(COUNT(*) FILTER (WHERE g.gap_s IS NULL
                OR g.gap_s > s.gap_thr_s) * 1000
                // COUNT(*) FILTER (WHERE g.gap_s IS NULL) AS BIGINT)
             AS sessions_per_user_milli
    FROM gaps g CROSS JOIN spine s
    GROUP BY s.gap_thr_s ORDER BY gap_thr_s
"""


# --- q389: order inter-arrival profile ----------------------------------------------


def q389_order_interarrival(spark, sf_dir):
    """Customer order inter-arrival profile: exact p50/p90 and mean of
    the days between a customer's CONSECUTIVE orders — the demand-side
    arrival process behind q378's WIP and q385's recency code (a
    recency above the p90 inter-arrival gap is genuine churn; below it
    is just the arrival process). One lag pass per customer, then the
    distinct-gap-value grid carries the exact quantiles.

    Scale shape: one customer-key window pass; quantiles come off the
    distinct gap values (bounded by the day horizon); output is one
    row.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01"))
        .cast("long")
        .alias("d"),
    )
    gaps = (
        orders.select(
            (F.col("d") - F.lag("d").over(
                Window.partitionBy("o_custkey").orderBy("d")
            )).alias("gap_d")
        )
        .where(F.col("gap_d").isNotNull())
        .groupBy("gap_d")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = F.broadcast(
        gaps.agg(
            F.sum("c").cast("long").alias("n_gaps"),
            F.sum(F.col("gap_d") * F.col("c")).cast("long").alias(
                "gap_sum"
            ),
        )
    )
    # bounded-domain: distinct gap values only (replication-invariant)
    wv = Window.orderBy("gap_d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = gaps.select(
        "gap_d", F.sum("c").over(wv).alias("cum")
    ).crossJoin(tot)
    p50 = cum.where(F.col("cum") * 2 >= F.col("n_gaps")).agg(
        F.min("gap_d").cast("long").alias("p50_gap_days")
    )
    p90 = cum.where(F.col("cum") * 10 >= F.col("n_gaps") * 9).agg(
        F.min("gap_d").cast("long").alias("p90_gap_days")
    )
    return (
        tot.crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p90))
        .select(
            "n_gaps",
            F.expr("CAST(gap_sum * 1000 div n_gaps AS BIGINT)").alias(
                "mean_gap_days_milli"
            ),
            "p50_gap_days",
            "p90_gap_days",
        )
    )


ESTIMATOR_QUERIES["q389_order_interarrival"] = q389_order_interarrival

ESTIMATOR_ORACLES["q389_order_interarrival"] = """
    WITH o AS (
      SELECT o_custkey,
             date_diff('day', DATE '1990-01-01', o_orderdate) AS d
      FROM orders
    ),
    gaps AS (
      SELECT gap_d, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT d - LAG(d) OVER (PARTITION BY o_custkey ORDER BY d)
                 AS gap_d
        FROM o
      ) WHERE gap_d IS NOT NULL GROUP BY gap_d
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_gaps,
             CAST(SUM(gap_d * c) AS BIGINT) AS gap_sum
      FROM gaps
    ),
    cum AS (
      SELECT gap_d, SUM(c) OVER (ORDER BY gap_d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM gaps
    ),
    p50 AS (
      SELECT CAST(MIN(gap_d) AS BIGINT) AS p50_gap_days
      FROM cum, tot WHERE cum * 2 >= n_gaps
    ),
    p90 AS (
      SELECT CAST(MIN(gap_d) AS BIGINT) AS p90_gap_days
      FROM cum, tot WHERE cum * 10 >= n_gaps * 9
    )
    SELECT t.n_gaps,
           CAST(t.gap_sum * 1000 // t.n_gaps AS BIGINT)
             AS mean_gap_days_milli,
           p50.p50_gap_days, p90.p90_gap_days
    FROM tot t, p50, p90
"""


# --- q390: chunking stride-overlap cost ladder ---------------------------------------


def q390_stride_overlap_ladder(spark, sf_dir):
    """Chunking stride-cost ladder: for a 64-token window at stride
    32/48/64, the EXACT number of chunks, duplicated tokens, and the
    storage/compute inflation the overlap buys — closed-form from
    per-document token counts (chunks = 1 + ceil((len−64)/stride),
    duplicated = (chunks−1)·(64−stride)), so the knob is priced without
    materializing a single chunk. This is the q312 packing-ladder
    pattern pointed at operators/text.chunk_documents' stride knob: at
    100 TB, stride 32 vs 48 is a ~1.3× storage bill decided by this
    table.

    Scale shape: metadata-only — one projection computes all three
    rungs in-row against a broadcast spine; one aggregate to 3 rows.
    """
    from adhesive_spark.operators.text import token_count
    from adhesive_spark.sources.registry import ensure_parallelism

    chunk = 64
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    spine = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(v).cast("long") for v in (32, 48, 64)])
        ).alias("stride")
    )
    per = (
        docs.select(token_count(F.col("text")).cast("long").alias("L"))
        .crossJoin(F.broadcast(spine))
        .select(
            "stride",
            "L",
            F.expr(
                f"CAST(CASE WHEN L <= {chunk} THEN 1"
                f" ELSE 1 + (L - {chunk} + stride - 1) div stride END"
                " AS BIGINT)"
            ).alias("n_chunks"),
        )
        .select(
            "stride",
            "L",
            "n_chunks",
            F.expr(
                f"CAST((n_chunks - 1) * ({chunk} - stride) AS BIGINT)"
            ).alias("dup_tokens"),
        )
    )
    return (
        per.groupBy("stride")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("L").cast("long").alias("corpus_tokens"),
            F.sum("n_chunks").cast("long").alias("total_chunks"),
            F.sum("dup_tokens").cast("long").alias("dup_tokens"),
        )
        .select(
            "stride",
            "n_docs",
            "corpus_tokens",
            "total_chunks",
            "dup_tokens",
            F.expr(
                "CAST((corpus_tokens + dup_tokens) * 1000000"
                " div corpus_tokens AS BIGINT)"
            ).alias("inflation_ppm"),
        )
        .orderBy("stride")
    )


ESTIMATOR_QUERIES["q390_stride_overlap_ladder"] = q390_stride_overlap_ladder

ESTIMATOR_ORACLES["q390_stride_overlap_ladder"] = f"""
    WITH t AS (
      SELECT CAST(len({_TOKS}) AS BIGINT) AS L FROM documents
    ),
    spine AS (SELECT UNNEST([32, 48, 64]) AS stride),
    per AS (
      SELECT s.stride, L,
             CASE WHEN L <= 64 THEN 1
                  ELSE 1 + (L - 64 + s.stride - 1) // s.stride END
               AS n_chunks
      FROM t CROSS JOIN spine s
    )
    SELECT CAST(stride AS BIGINT) AS stride,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(L) AS BIGINT) AS corpus_tokens,
           CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
           CAST(SUM((n_chunks - 1) * (64 - stride)) AS BIGINT)
             AS dup_tokens,
           CAST((SUM(L) + SUM((n_chunks - 1) * (64 - stride))) * 1000000
                // SUM(L) AS BIGINT) AS inflation_ppm
    FROM per GROUP BY stride ORDER BY stride
"""


# --- q391: delta-encoding ROI audit ---------------------------------------------------


def q391_delta_encoding_roi(spark, sf_dir):
    """Delta-encoding ROI per event-type partition: the bit width a raw
    epoch-second column needs (bits of max) vs what SORTED deltas need
    (bits of the max gap), and the implied compression in ppm — the
    "is it worth sorting this column before writing?" readout that
    complements q217's Z-order layout audit with the ENCODING half of
    the bill. Bit widths via length(bin(x)) — exact and engine-portable
    (no log2 floats). Per-type partitions mirror how row groups are
    actually laid out; the delta scan is partition-parallel.

    Scale shape: one per-type window pass for the gaps (the sortedness
    IS the semantics), collapsing immediately to per-type max/bits;
    output is 5 rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) AS BIGINT)").alias("es"),
    )
    wt = Window.partitionBy("event_type").orderBy("es")
    gaps = ev.select(
        "event_type",
        "es",
        (F.col("es") - F.lag("es").over(wt)).alias("gap_s"),
    )
    per = gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.max("es").cast("long").alias("max_es"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
    )
    return per.select(
        "event_type",
        "n_rows",
        "max_gap_s",
        F.expr("CAST(length(bin(max_es)) AS BIGINT)").alias("raw_bits"),
        F.expr(
            "CAST(length(bin(greatest(max_gap_s, 1))) AS BIGINT)"
        ).alias("delta_bits"),
        F.expr(
            "CAST(length(bin(greatest(max_gap_s, 1))) * 1000000"
            " div length(bin(max_es)) AS BIGINT)"
        ).alias("ratio_ppm"),
    ).orderBy("event_type")


ESTIMATOR_QUERIES["q391_delta_encoding_roi"] = q391_delta_encoding_roi

ESTIMATOR_ORACLES["q391_delta_encoding_roi"] = """
    WITH ev AS (
      SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
      FROM events
    ),
    gaps AS (
      SELECT event_type, es,
             es - LAG(es) OVER (PARTITION BY event_type ORDER BY es)
               AS gap_s
      FROM ev
    ),
    per AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MAX(es) AS BIGINT) AS max_es,
             CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
      FROM gaps GROUP BY event_type
    )
    SELECT event_type, n_rows, max_gap_s,
           CAST(length(bin(max_es)) AS BIGINT) AS raw_bits,
           CAST(length(bin(GREATEST(max_gap_s, 1))) AS BIGINT)
             AS delta_bits,
           CAST(length(bin(GREATEST(max_gap_s, 1))) * 1000000
                // length(bin(max_es)) AS BIGINT) AS ratio_ppm
    FROM per ORDER BY event_type
"""


# --- q392: cohort retention matrix ----------------------------------------------------


def q392_cohort_retention(spark, sf_dir):
    """Cohort retention triangle: customers grouped by first-order
    month; per (cohort, months-since) cell, the share still ordering —
    the classic warehouse retention matrix (the per-customer sibling of
    q322's byte-retention planner and the ground truth q385's recency
    code summarizes). Month arithmetic is integer (y·12+m); k capped at
    12 to keep the triangle printable; shares division-last in ppm.

    Scale shape: orders collapse to (customer, month) once, then to the
    customer's cohort via one more aggregate; the matrix is a
    (cohort, k) count over that collapsed table — never re-scans
    orders.
    """
    om = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
            ).cast("long").alias("ym"),
        )
        .distinct()
        .transform(checkpoint_corpus)
    )
    cohorts = om.groupBy("o_custkey").agg(
        F.min("ym").cast("long").alias("cohort_ym")
    )
    sizes = cohorts.groupBy("cohort_ym").agg(
        F.count("*").cast("long").alias("cohort_n")
    )
    cells = (
        om.join(F.broadcast(cohorts), "o_custkey")
        .select(
            "cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("k")
        )
        .where(F.col("k") <= 12)
        .groupBy("cohort_ym", "k")
        .agg(F.count("*").cast("long").alias("n_active"))
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_ym")
        .select(
            "cohort_ym",
            "k",
            "n_active",
            "cohort_n",
            F.expr(
                "CAST(n_active * 1000000 div cohort_n AS BIGINT)"
            ).alias("retention_ppm"),
        )
        .orderBy("cohort_ym", "k")
    )


ESTIMATOR_QUERIES["q392_cohort_retention"] = q392_cohort_retention

ESTIMATOR_ORACLES["q392_cohort_retention"] = """
    WITH om AS (
      SELECT DISTINCT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                  AS BIGINT) AS ym
      FROM orders
    ),
    cohorts AS (
      SELECT o_custkey, CAST(MIN(ym) AS BIGINT) AS cohort_ym
      FROM om GROUP BY o_custkey
    ),
    sizes AS (
      SELECT cohort_ym, CAST(COUNT(*) AS BIGINT) AS cohort_n
      FROM cohorts GROUP BY cohort_ym
    ),
    cells AS (
      SELECT c.cohort_ym, om.ym - c.cohort_ym AS k,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM om JOIN cohorts c ON om.o_custkey = c.o_custkey
      WHERE om.ym - c.cohort_ym <= 12
      GROUP BY c.cohort_ym, om.ym - c.cohort_ym
    )
    SELECT ce.cohort_ym, CAST(ce.k AS BIGINT) AS k, ce.n_active,
           s.cohort_n,
           CAST(ce.n_active * 1000000 // s.cohort_n AS BIGINT)
             AS retention_ppm
    FROM cells ce JOIN sizes s ON ce.cohort_ym = s.cohort_ym
    ORDER BY ce.cohort_ym, k
"""


# --- q393: shuffle-partition size planner ----------------------------------------------


def q393_partition_size_planner(spark, sf_dir):
    """Shuffle-partition sizing planner: for partition counts P ∈
    {8, 32, 128}, hash the REAL join/agg key population (source) into P
    buckets and ship each layout's max-partition payload, skew ratio
    (max/mean), and how many partitions get anything at all — the
    metadata-only answer to "will spark.sql.shuffle.partitions=P spill
    or straggle on THIS key set?" (the q321/q48 sibling priced before
    any shuffle runs: 20 sources into 128 partitions mostly collides
    and idles, and this table SHOWS it). Payload bytes stand in as
    n_chars.

    Scale shape: the corpus collapses to per-key byte totals once
    (checkpointed); each P rung re-buckets the ≤|keys| collapsed rows
    against a broadcast spine — the fact table is scanned exactly once.
    """
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    per_key = (
        docs.groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("bytes"))
        .localCheckpoint(eager=True)
    )
    spine = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(v).cast("long") for v in (8, 32, 128)])
        ).alias("p")
    )
    parts = (
        per_key.crossJoin(F.broadcast(spine))
        .select(
            "p",
            F.pmod(
                portable_hash32(F.concat(F.lit("pp:"), F.col("source"))),
                F.col("p"),
            ).alias("part"),
            "bytes",
        )
        .groupBy("p", "part")
        .agg(F.sum("bytes").cast("long").alias("pb"))
    )
    return (
        parts.groupBy("p")
        .agg(
            F.count("*").cast("long").alias("used_partitions"),
            F.sum("pb").cast("long").alias("total_bytes"),
            F.max("pb").cast("long").alias("max_partition_bytes"),
        )
        .select(
            "p",
            "used_partitions",
            "total_bytes",
            "max_partition_bytes",
            F.expr(
                "CAST(max_partition_bytes * p * 1000000"
                " div total_bytes AS BIGINT)"
            ).alias("skew_ratio_ppm"),
        )
        .orderBy("p")
    )


ESTIMATOR_QUERIES["q393_partition_size_planner"] = q393_partition_size_planner


def _partition_oracle() -> str:
    bkt = _h32("md5('pp:' || source)")
    return f"""
    WITH per_key AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS bytes
      FROM documents GROUP BY source
    ),
    spine AS (SELECT UNNEST([8, 32, 128]) AS p),
    parts AS (
      SELECT s.p, ({bkt}) % s.p AS part,
             CAST(SUM(bytes) AS BIGINT) AS pb
      FROM per_key CROSS JOIN spine s
      GROUP BY s.p, part
    )
    SELECT CAST(p AS BIGINT) AS p,
           CAST(COUNT(*) AS BIGINT) AS used_partitions,
           CAST(SUM(pb) AS BIGINT) AS total_bytes,
           CAST(MAX(pb) AS BIGINT) AS max_partition_bytes,
           CAST(MAX(pb) * p * 1000000 // SUM(pb) AS BIGINT)
             AS skew_ratio_ppm
    FROM parts GROUP BY p ORDER BY p
"""


ESTIMATOR_ORACLES["q393_partition_size_planner"] = _partition_oracle()


# --- q394: watermark lateness planner ----------------------------------------------


def q394_watermark_planner(spark, sf_dir):
    """Watermark sizing from measured out-of-orderness: with event_id
    as the arrival order and ts as event time, a row is LATE by how far
    its timestamp sits behind the running per-user event-time maximum
    at arrival. Ships the late share, the max, and the exact p99
    lateness — p99 IS the withWatermark delay that keeps 99% of late
    rows inside state at minimal state size (the number every
    streaming/ops window op asks for and everyone guesses). Integer
    seconds end to end.

    Scale shape: one per-user running-max window pass (arrival order
    within user — partition-parallel); the lateness distribution
    collapses to distinct second-values for the exact quantile.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("CAST(unix_timestamp(ts) AS BIGINT)").alias("es"),
    )
    wa = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = ev.select(
        F.greatest(
            F.coalesce(F.max("es").over(wa) - F.col("es"), F.lit(0)),
            F.lit(0),
        ).alias("late_s")
    )
    by_val = (
        late.groupBy("late_s")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = F.broadcast(
        by_val.agg(
            F.sum("c").cast("long").alias("n_events"),
            F.sum(F.when(F.col("late_s") > 0, F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_late"),
            F.max("late_s").cast("long").alias("max_late_s"),
        )
    )
    # bounded-domain: distinct lateness values only
    wv = Window.orderBy("late_s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    p99 = (
        by_val.select("late_s", F.sum("c").over(wv).alias("cum"))
        .crossJoin(tot)
        .where(F.col("cum") * 100 >= F.col("n_events") * 99)
        .agg(F.min("late_s").cast("long").alias("p99_late_s"))
    )
    return tot.crossJoin(F.broadcast(p99)).select(
        "n_events",
        "n_late",
        F.expr(
            "CAST(n_late * 1000000 div n_events AS BIGINT)"
        ).alias("late_share_ppm"),
        "max_late_s",
        "p99_late_s",
    )


ESTIMATOR_QUERIES["q394_watermark_planner"] = q394_watermark_planner

ESTIMATOR_ORACLES["q394_watermark_planner"] = """
    WITH ev AS (
      SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
      FROM events
    ),
    late AS (
      SELECT GREATEST(COALESCE(
               MAX(es) OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - es, 0), 0) AS late_s
      FROM ev
    ),
    by_val AS (
      SELECT late_s, CAST(COUNT(*) AS BIGINT) AS c
      FROM late GROUP BY late_s
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN late_s > 0 THEN c ELSE 0 END) AS BIGINT)
               AS n_late,
             CAST(MAX(late_s) AS BIGINT) AS max_late_s
      FROM by_val
    ),
    p99 AS (
      SELECT CAST(MIN(late_s) AS BIGINT) AS p99_late_s
      FROM (
        SELECT late_s, SUM(c) OVER (ORDER BY late_s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM by_val
      ), tot
      WHERE cum * 100 >= n_events * 99
    )
    SELECT t.n_events, t.n_late,
           CAST(t.n_late * 1000000 // t.n_events AS BIGINT)
             AS late_share_ppm,
           t.max_late_s, p99.p99_late_s
    FROM tot t, p99
"""


# --- q395: winsorization impact ladder --------------------------------------------


def q395_winsor_impact(spark, sf_dir):
    """Winsorization impact ladder: how much of the event-value mean is
    carried by the tail above the exact p90/p95/p99 caps? q128 APPLIES
    one fence; this prices the knob — per rung, the capped mean, the
    ppm of the mean the cap removes, and how many rows it touches. The
    robust-statistics complement of q373: MoM says whether the mean is
    poisoned, this says exactly where the poison sits. Caps are exact
    lower quantiles off the distinct-cents grid; sums are conditional
    integer aggregates — the corpus is scanned once.

    Scale shape: events collapse to (cents, cnt) once (checkpointed);
    caps and capped sums run on that bounded grid × a 3-row broadcast
    spine.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c")
    )
    by_val = (
        ev.groupBy("c")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    tot = F.broadcast(
        by_val.agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(F.col("c") * F.col("cnt")).cast("long").alias("s"),
        )
    )
    spine = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(v).cast("long") for v in (90, 95, 99)])
        ).alias("q")
    )
    # bounded-domain: distinct cents values only (replication-invariant)
    wv = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = by_val.select("c", F.sum("cnt").over(wv).alias("cum"))
    caps = (
        cum.crossJoin(tot)
        .crossJoin(F.broadcast(spine))
        .where(F.col("cum") * 100 >= F.col("n") * F.col("q"))
        .groupBy("q")
        .agg(F.min("c").cast("long").alias("cap_c"))
    )
    capped = (
        by_val.crossJoin(F.broadcast(caps))
        .groupBy("q", "cap_c")
        .agg(
            F.sum(
                F.least(F.col("c"), F.col("cap_c")) * F.col("cnt")
            ).cast("long").alias("s_capped"),
            F.sum(
                F.when(F.col("c") > F.col("cap_c"), F.col("cnt")).otherwise(0)
            ).cast("long").alias("n_clipped"),
        )
    )
    return (
        capped.crossJoin(tot)
        .select(
            "q",
            "cap_c",
            "n_clipped",
            F.expr("CAST(s div n AS BIGINT)").alias("mean_c"),
            F.expr("CAST(s_capped div n AS BIGINT)").alias(
                "winsor_mean_c"
            ),
            F.expr(
                "CAST((s - s_capped) * 1000000 div s AS BIGINT)"
            ).alias("tail_mass_ppm"),
        )
        .orderBy("q")
    )


ESTIMATOR_QUERIES["q395_winsor_impact"] = q395_winsor_impact

ESTIMATOR_ORACLES["q395_winsor_impact"] = """
    WITH by_val AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(c * cnt) AS BIGINT) AS s
      FROM by_val
    ),
    spine AS (SELECT UNNEST([90, 95, 99]) AS q),
    cum AS (
      SELECT c, SUM(cnt) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM by_val
    ),
    caps AS (
      SELECT s.q, CAST(MIN(cum.c) AS BIGINT) AS cap_c
      FROM cum, tot, spine s
      WHERE cum.cum * 100 >= tot.n * s.q
      GROUP BY s.q
    ),
    capped AS (
      SELECT caps.q, caps.cap_c,
             CAST(SUM(LEAST(b.c, caps.cap_c) * b.cnt) AS BIGINT)
               AS s_capped,
             CAST(SUM(CASE WHEN b.c > caps.cap_c THEN b.cnt ELSE 0 END)
                  AS BIGINT) AS n_clipped
      FROM by_val b CROSS JOIN caps
      GROUP BY caps.q, caps.cap_c
    )
    SELECT CAST(cp.q AS BIGINT) AS q, cp.cap_c, cp.n_clipped,
           CAST(t.s // t.n AS BIGINT) AS mean_c,
           CAST(cp.s_capped // t.n AS BIGINT) AS winsor_mean_c,
           CAST((t.s - cp.s_capped) * 1000000 // t.s AS BIGINT)
             AS tail_mass_ppm
    FROM capped cp, tot t ORDER BY q
"""


# --- q396: group-by cardinality pre-flight ------------------------------------------


def q396_key_cardinality_ladder(spark, sf_dir):
    """Group-by cardinality pre-flight: the distinct-group count and
    mean rows-per-group for the dimension combinations a cube/rollup
    would materialize ((lang), (source), (source, lang),
    (source, lang, n_chars)) — the metadata query that decides whether
    a q13-style cube is a 100-row summary or an accidental
    corpus-sized explosion BEFORE anyone runs it (the q166
    join-cardinality pre-flight's aggregation sibling). One count per
    rung over the same scan; all integer.

    Scale shape: four count-distinct aggregates, each map-side
    combinable; output is 4 rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    # all four rungs plus the row count in ONE aggregate: Spark plans
    # multiple count-distincts as a single scan + Expand, where the
    # rung-per-union form re-read the corpus five times; the 1-row
    # result is unpivoted back to the rung rows with stack
    agg = docs.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count_distinct("lang").cast("long").alias("d_lang"),
        F.count_distinct("source").cast("long").alias("d_source"),
        F.count_distinct("source", "lang").cast("long").alias("d_sl"),
        F.count_distinct("source", "lang", "n_chars")
        .cast("long")
        .alias("d_sln"),
    )
    return (
        agg.select(
            F.expr(
                "stack(4, 'lang', d_lang, 'source', d_source, "
                "'source,lang', d_sl, 'source,lang,n_chars', d_sln) "
                "AS (combo, n_groups)"
            ),
            "n_rows",
        )
        .select(
            "combo",
            "n_groups",
            "n_rows",
            F.expr("CAST(n_rows * 1000 div n_groups AS BIGINT)").alias(
                "rows_per_group_milli"
            ),
        )
        .orderBy("combo")
    )


ESTIMATOR_QUERIES["q396_key_cardinality_ladder"] = q396_key_cardinality_ladder

ESTIMATOR_ORACLES["q396_key_cardinality_ladder"] = """
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents),
    rungs AS (
      SELECT 'lang' AS combo,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_groups
      FROM documents
      UNION ALL
      SELECT 'source', CAST(COUNT(DISTINCT source) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'source,lang',
             CAST(COUNT(DISTINCT (source, lang)) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'source,lang,n_chars',
             CAST(COUNT(DISTINCT (source, lang, n_chars)) AS BIGINT)
      FROM documents
    )
    SELECT r.combo, r.n_groups, n.n_rows,
           CAST(n.n_rows * 1000 // r.n_groups AS BIGINT)
             AS rows_per_group_milli
    FROM rungs r, n ORDER BY combo
"""


# --- q397: revenue bridge (mix/rate decomposition) ------------------------------------


def q397_revenue_bridge(spark, sf_dir):
    """Revenue bridge: decompose the revenue change between two periods
    (orders ≤1997 vs ≥1998) into MIX (order-count shift at old average
    value) and RATE (average-value shift at new counts) per priority
    segment — the classic finance/ops "why did the number move"
    decomposition, exact in cents with each segment's division floored
    identically in both engines and the floor residual SHIPPED as a
    column (delta = mix + rate + resid holds row by row, by
    construction). In pipeline terms the same bridge explains a token
    count or a storage bill moving between snapshots.

    Scale shape: one aggregate to (segment, period) cells; the algebra
    runs on ≤ segments rows. Output is 5 rows.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("segment"),
        (F.year("o_orderdate") <= 1997).cast("long").alias("is_p1"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    cells = orders.groupBy("segment").agg(
        F.sum("is_p1").cast("long").alias("n1"),
        F.sum(F.col("is_p1") * F.col("cents")).cast("long").alias("s1"),
        (F.count("*") - F.sum("is_p1")).cast("long").alias("n2"),
        F.sum((1 - F.col("is_p1")) * F.col("cents"))
        .cast("long")
        .alias("s2"),
    )
    return cells.select(
        "segment",
        "n1",
        "n2",
        "s1",
        "s2",
        (F.col("s2") - F.col("s1")).alias("delta_cents"),
        F.expr(
            "CAST((n2 - n1) * CAST(s1 AS DECIMAL(38,0)) div n1 AS BIGINT)"
        ).alias("mix_cents"),
        F.expr(
            "CAST(s2 - n2 * CAST(s1 AS DECIMAL(38,0)) div n1 AS BIGINT)"
        ).alias("rate_cents"),
        F.expr(
            "CAST((s2 - s1)"
            " - ((n2 - n1) * CAST(s1 AS DECIMAL(38,0)) div n1)"
            " - (s2 - n2 * CAST(s1 AS DECIMAL(38,0)) div n1) AS BIGINT)"
        ).alias("resid_cents"),
    ).orderBy("segment")


ESTIMATOR_QUERIES["q397_revenue_bridge"] = q397_revenue_bridge

ESTIMATOR_ORACLES["q397_revenue_bridge"] = """
    WITH o AS (
      SELECT o_orderpriority AS segment,
             CAST(year(o_orderdate) <= 1997 AS BIGINT) AS is_p1,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ),
    cells AS (
      SELECT segment,
             CAST(SUM(is_p1) AS BIGINT) AS n1,
             CAST(SUM(is_p1 * cents) AS BIGINT) AS s1,
             CAST(COUNT(*) - SUM(is_p1) AS BIGINT) AS n2,
             CAST(SUM((1 - is_p1) * cents) AS BIGINT) AS s2
      FROM o GROUP BY segment
    )
    SELECT segment, n1, n2, s1, s2,
           s2 - s1 AS delta_cents,
           CAST((n2 - n1) * CAST(s1 AS HUGEINT) // n1 AS BIGINT)
             AS mix_cents,
           CAST(s2 - n2 * CAST(s1 AS HUGEINT) // n1 AS BIGINT)
             AS rate_cents,
           CAST((s2 - s1)
                - ((n2 - n1) * CAST(s1 AS HUGEINT) // n1)
                - (s2 - n2 * CAST(s1 AS HUGEINT) // n1) AS BIGINT)
             AS resid_cents
    FROM cells ORDER BY segment
"""


# --- q398: Zipf rank-frequency product ladder -----------------------------------------


def q398_zipf_product_ladder(spark, sf_dir):
    """Log-free Zipf diagnostic: under Zipf's law with exponent 1 the
    rank×frequency product is constant, so shipping r·f at a fixed rank
    ladder (1/2/5/10/20/50/100), normalized by the rank-1 product,
    reads the power-law fit without a single logarithm — a flat ladder
    says "natural-language-like tail", a collapsing one says the
    vocabulary is template/boilerplate-driven (exactly what the
    synthetic corpus should show). Tie-break (count DESC, token ASC);
    ranks live on a 100-row TakeOrdered table, never a vocabulary sort.

    Scale shape: one token-count aggregate; TakeOrdered top-100; rank
    window over 100 rows; a 7-row broadcast ladder picks the readout.
    """
    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    top = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("f"))
        .orderBy(F.desc("f"), F.asc("w"))
        .limit(100)
        .localCheckpoint(eager=True)
    )
    # bounded-domain: 100 top-token rows only
    wr = Window.orderBy(F.desc("f"), F.asc("w"))
    ranked = top.select(
        "w", "f", F.row_number().over(wr).cast("long").alias("r")
    )
    f1 = F.broadcast(
        ranked.where(F.col("r") == 1).select(
            F.col("f").alias("f_top")
        )
    )
    ladder = spark.range(1).select(
        F.explode(
            F.array(
                *[F.lit(v).cast("long") for v in (1, 2, 5, 10, 20, 50, 100)]
            )
        ).alias("rank")
    )
    return (
        ranked.join(F.broadcast(ladder), F.col("r") == F.col("rank"))
        .crossJoin(f1)
        .select(
            "rank",
            F.col("w").alias("token"),
            F.col("f").alias("freq"),
            (F.col("r") * F.col("f")).alias("rf_product"),
            F.expr(
                "CAST(r * f * 1000000 div f_top AS BIGINT)"
            ).alias("rf_norm_ppm"),
        )
        .orderBy("rank")
    )


ESTIMATOR_QUERIES["q398_zipf_product_ladder"] = q398_zipf_product_ladder

ESTIMATOR_ORACLES["q398_zipf_product_ladder"] = f"""
    WITH tok AS (
      SELECT UNNEST({_TOKS}) AS w FROM documents
    ),
    top AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS f
      FROM tok GROUP BY w ORDER BY f DESC, w ASC LIMIT 100
    ),
    ranked AS (
      SELECT w, f,
             CAST(ROW_NUMBER() OVER (ORDER BY f DESC, w ASC) AS BIGINT)
               AS r
      FROM top
    ),
    f1 AS (SELECT f AS f_top FROM ranked WHERE r = 1),
    ladder AS (SELECT UNNEST([1, 2, 5, 10, 20, 50, 100]) AS rank)
    SELECT CAST(l.rank AS BIGINT) AS rank, rk.w AS token,
           rk.f AS freq, rk.r * rk.f AS rf_product,
           CAST(rk.r * rk.f * 1000000 // f1.f_top AS BIGINT)
             AS rf_norm_ppm
    FROM ranked rk JOIN ladder l ON rk.r = l.rank
    CROSS JOIN f1 ORDER BY rank
"""


# --- q399: discount-response audit -----------------------------------------------------


def q399_discount_response(spark, sf_dir):
    """Discount-response audit: mean line-item quantity per discount
    band (exact cents bands) plus the integer covariance-numerator SIGN
    of discount vs quantity over the whole fact table — the "does the
    discount knob actually move volume, or is it pure margin giveaway?"
    readout, with the q377 sign machinery applied to a pricing lever.
    A flat band table with sign 0/−1 is the (correct) null answer on
    synthetic independent data; on real data this is the first
    elasticity sanity check before any model.

    Scale shape: ONE aggregate to ≤11 discount-band rows carrying the
    moment sums; the covariance sign derives from the band table, not
    a second scan.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(ROUND(l_discount * 100, 0) AS BIGINT)").alias("d_c"),
        F.expr("CAST(ROUND(l_quantity * 100, 0) AS BIGINT)").alias("q_c"),
    )
    bands = (
        li.groupBy("d_c")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("q_c").cast("long").alias("sq"),
        )
        .localCheckpoint(eager=True)
    )
    tot = F.broadcast(
        bands.agg(
            F.sum("n").cast("long").alias("nn"),
            F.sum(F.col("d_c") * F.col("n")).cast("long").alias("sd"),
            F.sum("sq").cast("long").alias("sqq"),
            F.sum(F.col("d_c") * F.col("sq")).cast("long").alias("sdq"),
        )
    )
    return (
        bands.crossJoin(tot)
        .select(
            "d_c",
            "n",
            F.expr("CAST(sq * 10 div n AS BIGINT)").alias(
                "mean_qty_milli"
            ),
            F.expr(
                "CAST(sign(CAST(nn AS DECIMAL(38,0)) * sdq"
                " - CAST(sd AS DECIMAL(38,0)) * sqq) AS BIGINT)"
            ).alias("cov_sign"),
        )
        .orderBy("d_c")
    )


ESTIMATOR_QUERIES["q399_discount_response"] = q399_discount_response

ESTIMATOR_ORACLES["q399_discount_response"] = """
    WITH li AS (
      SELECT CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS d_c,
             CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS q_c
      FROM lineitem
    ),
    bands AS (
      SELECT d_c, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q_c) AS BIGINT) AS sq
      FROM li GROUP BY d_c
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(d_c * n) AS BIGINT) AS sd,
             CAST(SUM(sq) AS BIGINT) AS sqq,
             CAST(SUM(d_c * sq) AS BIGINT) AS sdq
      FROM bands
    )
    SELECT b.d_c, b.n,
           CAST(b.sq * 10 // b.n AS BIGINT) AS mean_qty_milli,
           CAST(SIGN(CAST(t.nn AS HUGEINT) * t.sdq
                     - CAST(t.sd AS HUGEINT) * t.sqq) AS BIGINT)
             AS cov_sign
    FROM bands b, tot t ORDER BY b.d_c
"""


# --- q400: token-economics ledger -------------------------------------------------


def q400_token_economics(spark, sf_dir):
    """Cost-per-effective-token ledger — the capstone economics of the
    whole curation stack in ONE pass: raw tokens in; tokens surviving
    the length gate, the quality threshold, and exact dedup (first
    copy per fingerprint); and the chunk-overlap inflation (64-token
    window, stride 48) the trainer re-pays on what survives. The
    bottom line, effective_per_raw_ppm, is the number a 100 TB ingest
    contract is actually priced in: how many trainable tokens a
    million crawled tokens buy. Every stage reuses the house
    primitives (quality_score, fingerprint, the q390 closed form) so
    the ledger IS the pipeline's arithmetic, not a parallel estimate.

    Scale shape: one projection computes all per-doc columns; the
    dedup first-copy is a min window over ONE fp-keyed exchange (the
    same shuffle the old aggregate + fp-join paid twice), then one
    final 1-row aggregate.
    """
    from adhesive_spark.operators.text import (
        fingerprint,
        quality_score,
        token_count,
    )
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("toks"),
        (
            (F.col("n_chars") >= 100) & (F.col("n_chars") <= 20000)
        ).cast("long").alias("len_ok"),
        (quality_score(F.col("text")) >= 0.3).cast("long").alias("q_ok"),
        fingerprint(F.col("text")).alias("fp"),
    )
    # ONE fp-keyed exchange: first_copy is a min-window over the same
    # shuffle the old aggregate + fp-join paid twice — and the heavy
    # kernel projection (quality, fingerprint, tokens) evaluates once
    # instead of once per join side
    flagged = base.select(
        "toks",
        "len_ok",
        "q_ok",
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("fp"))
        ).cast("long").alias("first_copy"),
    )
    stride, chunk = 48, 64
    return flagged.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("raw_tokens"),
        F.sum(F.col("toks") * F.col("len_ok")).cast("long").alias(
            "after_len_tokens"
        ),
        F.sum(
            F.col("toks") * F.col("len_ok") * F.col("q_ok")
        ).cast("long").alias("after_quality_tokens"),
        F.sum(
            F.col("toks")
            * F.col("len_ok")
            * F.col("q_ok")
            * F.col("first_copy")
        ).cast("long").alias("surviving_tokens"),
        # q390 closed form on the survivors: duplicated tokens at
        # (64, stride 48)
        F.sum(
            F.when(
                (F.col("len_ok") * F.col("q_ok") * F.col("first_copy"))
                == 1,
                F.expr(
                    f"(CASE WHEN toks <= {chunk} THEN 0"
                    f" ELSE (toks - {chunk} + {stride} - 1)"
                    f" div {stride} END) * ({chunk} - {stride})"
                ),
            ).otherwise(0)
        ).cast("long").alias("overlap_tokens"),
    ).select(
        "n_docs",
        "raw_tokens",
        "after_len_tokens",
        "after_quality_tokens",
        "surviving_tokens",
        "overlap_tokens",
        F.expr(
            "CAST(surviving_tokens * 1000000 div raw_tokens AS BIGINT)"
        ).alias("effective_per_raw_ppm"),
        F.expr(
            "CAST((surviving_tokens + overlap_tokens) * 1000000"
            " div greatest(surviving_tokens, 1) AS BIGINT)"
        ).alias("train_inflation_ppm"),
    )


ESTIMATOR_QUERIES["q400_token_economics"] = q400_token_economics


def _economics_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, text, n_chars, {_NORM} AS norm, {_TOKS} AS toks
      FROM documents
    ),
    base AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS toks,
             CAST(n_chars BETWEEN 100 AND 20000 AS BIGINT) AS len_ok,
             CAST(({_quality_sql()}) >= 0.3 AS BIGINT) AS q_ok,
             md5(norm) AS fp
      FROM t
    ),
    first AS (
      SELECT fp, MIN(doc_id) AS keep_id FROM base GROUP BY fp
    ),
    flagged AS (
      SELECT b.toks, b.len_ok, b.q_ok,
             CAST(b.doc_id = f.keep_id AS BIGINT) AS first_copy
      FROM base b JOIN first f ON b.fp = f.fp
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(toks) AS BIGINT) AS raw_tokens,
             CAST(SUM(toks * len_ok) AS BIGINT) AS after_len_tokens,
             CAST(SUM(toks * len_ok * q_ok) AS BIGINT)
               AS after_quality_tokens,
             CAST(SUM(toks * len_ok * q_ok * first_copy) AS BIGINT)
               AS surviving_tokens,
             CAST(SUM(CASE WHEN len_ok * q_ok * first_copy = 1 THEN
               (CASE WHEN toks <= 64 THEN 0
                     ELSE (toks - 64 + 48 - 1) // 48 END) * (64 - 48)
               ELSE 0 END) AS BIGINT) AS overlap_tokens
      FROM flagged
    )
    SELECT n_docs, raw_tokens, after_len_tokens, after_quality_tokens,
           surviving_tokens, overlap_tokens,
           CAST(surviving_tokens * 1000000 // raw_tokens AS BIGINT)
             AS effective_per_raw_ppm,
           CAST((surviving_tokens + overlap_tokens) * 1000000
                // GREATEST(surviving_tokens, 1) AS BIGINT)
             AS train_inflation_ppm
    FROM agg
    """


ESTIMATOR_ORACLES["q400_token_economics"] = _economics_oracle()


# --- q401: one-way ANOVA F for day-of-week effect ----------------------------------


def q401_dow_anova(spark, sf_dir):
    """One-way ANOVA on event value by weekday — the significance test
    behind q371's seasonality index, in exact integers: per-term-floored
    SSW/SSB (the q380/q382 decomposition pointed at a time dimension),
    the F statistic ×1000 with division last, and η² (the variance
    share the weekday explains). F near 1 says q371's index wiggles are
    noise; a large F licenses per-day capacity planning. Weekday is
    Sunday=0 in both engines.

    Scale shape: ONE aggregate to 7 per-day moment rows; all test
    algebra runs on those 7 rows + a broadcast grand total.
    """
    ev = load_table(spark, sf_dir, "events").select(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c"),
    )
    # materialize the 7-row moment table once: grand (used twice) and
    # ssb each re-ran the full events aggregate — three corpus passes
    # for one 7-row table
    per = ev.groupBy("dow").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    ).localCheckpoint(eager=True)
    grand = F.broadcast(
        per.agg(
            F.sum("n").cast("long").alias("nn"),
            F.sum("s").cast("long").alias("sg"),
            F.count("*").cast("long").alias("k"),
            F.sum(
                F.expr(
                    "(CAST(ss AS DECIMAL(38,0)) * n"
                    " - CAST(s AS DECIMAL(38,0)) * s) div n"
                )
            )
            .cast("long")
            .alias("ssw"),
        )
    )
    ssb = (
        per.crossJoin(grand)
        .select(
            F.expr(
                "CAST((CAST(s AS DECIMAL(38,0)) * nn"
                "      - CAST(sg AS DECIMAL(38,0)) * n)"
                "     * (CAST(s AS DECIMAL(38,0)) * nn"
                "        - CAST(sg AS DECIMAL(38,0)) * n)"
                " div (CAST(n AS DECIMAL(38,0)) * nn * nn) AS BIGINT)"
            ).alias("term")
        )
        .agg(F.sum("term").cast("long").alias("ssb"))
    )
    return ssb.crossJoin(grand).select(
        F.col("nn").alias("n_events"),
        F.col("k").alias("n_groups"),
        F.col("ssb").alias("ssb_scaled"),
        F.col("ssw").alias("ssw_scaled"),
        F.expr(
            "CAST(CAST(ssb AS DECIMAL(38,0)) * (nn - k) * 1000"
            " div greatest((k - 1) * CAST(ssw AS DECIMAL(38,0)), 1)"
            " AS BIGINT)"
        ).alias("f_milli"),
        F.expr(
            "CAST(CAST(ssb AS DECIMAL(38,0)) * 1000000"
            " div greatest(ssb + ssw, 1) AS BIGINT)"
        ).alias("eta_sq_ppm"),
    )


ESTIMATOR_QUERIES["q401_dow_anova"] = q401_dow_anova

ESTIMATOR_ORACLES["q401_dow_anova"] = """
    WITH ev AS (
      SELECT dayofweek(ts) AS dow,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS c
      FROM events
    ),
    per AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(c * c) AS BIGINT) AS ss
      FROM ev GROUP BY dow
    ),
    grand AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(s) AS BIGINT) AS sg,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM((CAST(ss AS HUGEINT) * n
                       - CAST(s AS HUGEINT) * s) // n) AS BIGINT) AS ssw
      FROM per
    ),
    ssb_t AS (
      SELECT CAST(SUM((CAST(p.s AS HUGEINT) * g.nn
                       - CAST(g.sg AS HUGEINT) * p.n)
                      * (CAST(p.s AS HUGEINT) * g.nn
                         - CAST(g.sg AS HUGEINT) * p.n)
                      // (CAST(p.n AS HUGEINT) * g.nn * g.nn))
                  AS BIGINT) AS ssb
      FROM per p, grand g
    )
    SELECT g.nn AS n_events, g.k AS n_groups,
           s.ssb AS ssb_scaled, g.ssw AS ssw_scaled,
           CAST(CAST(s.ssb AS HUGEINT) * (g.nn - g.k) * 1000
                // GREATEST((g.k - 1) * CAST(g.ssw AS HUGEINT), 1)
                AS BIGINT) AS f_milli,
           CAST(CAST(s.ssb AS HUGEINT) * 1000000
                // GREATEST(s.ssb + g.ssw, 1) AS BIGINT) AS eta_sq_ppm
    FROM grand g, ssb_t s
"""


# --- q402: event-type mix-shift canary ------------------------------------------------


def q402_mix_shift_canary(spark, sf_dir):
    """Release-canary mix audit: split the stream at its midpoint
    timestamp and compare the event-TYPE mix of the two halves —
    per-type share deltas plus the total-variation distance between the
    mixes (the q361 cross-multiplied machinery on a categorical
    distribution over time). A canary alarm here means the traffic
    COMPOSITION moved even if volume didn't — the failure mode volume
    monitors (q150) are blind to. All integer, division last.

    Scale shape: one aggregate to (type, half) counts against a
    broadcast 1-row midpoint; TV and deltas run on ≤5 type rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) AS BIGINT)").alias("es"),
    )
    mid = F.broadcast(
        ev.agg(
            F.expr(
                "CAST((min(es) + max(es)) div 2 AS BIGINT)"
            ).alias("mid_es")
        )
    )
    cells = (
        ev.crossJoin(mid)
        .groupBy("event_type")
        .agg(
            F.count_if(F.col("es") < F.col("mid_es"))
            .cast("long")
            .alias("n1"),
            F.count_if(F.col("es") >= F.col("mid_es"))
            .cast("long")
            .alias("n2"),
        )
        .localCheckpoint(eager=True)
    )
    tots = F.broadcast(
        cells.agg(
            F.sum("n1").cast("long").alias("t1"),
            F.sum("n2").cast("long").alias("t2"),
        )
    )
    terms = cells.crossJoin(tots).select(
        "event_type",
        "n1",
        "n2",
        "t1",
        "t2",
        F.expr(
            "abs(CAST(n1 AS DECIMAL(38,0)) * t2"
            " - CAST(n2 AS DECIMAL(38,0)) * t1)"
        ).alias("num"),
    )
    tv = F.broadcast(
        terms.agg(
            F.expr(
                "CAST(sum(num) * 1000000"
                " div (2 * CAST(min(t1) AS DECIMAL(38,0)) * min(t2))"
                " AS BIGINT)"
            ).alias("tv_ppm")
        )
    )
    return (
        terms.crossJoin(tv)
        .select(
            "event_type",
            "n1",
            "n2",
            F.expr("CAST(n1 * 1000000 div t1 AS BIGINT)").alias(
                "share1_ppm"
            ),
            F.expr("CAST(n2 * 1000000 div t2 AS BIGINT)").alias(
                "share2_ppm"
            ),
            F.expr(
                "CAST(n2 * 1000000 div t2 - n1 * 1000000 div t1"
                " AS BIGINT)"
            ).alias("delta_ppm"),
            "tv_ppm",
        )
        .orderBy("event_type")
    )


ESTIMATOR_QUERIES["q402_mix_shift_canary"] = q402_mix_shift_canary

ESTIMATOR_ORACLES["q402_mix_shift_canary"] = """
    WITH ev AS (
      SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
      FROM events
    ),
    mid AS (
      SELECT CAST((MIN(es) + MAX(es)) // 2 AS BIGINT) AS mid_es FROM ev
    ),
    cells AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (WHERE es < m.mid_es) AS BIGINT) AS n1,
             CAST(COUNT(*) FILTER (WHERE es >= m.mid_es) AS BIGINT) AS n2
      FROM ev, mid m GROUP BY event_type
    ),
    tots AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS t1,
             CAST(SUM(n2) AS BIGINT) AS t2
      FROM cells
    ),
    terms AS (
      SELECT c.event_type, c.n1, c.n2, t.t1, t.t2,
             ABS(CAST(c.n1 AS HUGEINT) * t.t2
                 - CAST(c.n2 AS HUGEINT) * t.t1) AS num
      FROM cells c, tots t
    ),
    tv AS (
      SELECT CAST(SUM(num) * 1000000
                  // (2 * CAST(MIN(t1) AS HUGEINT) * MIN(t2)) AS BIGINT)
               AS tv_ppm
      FROM terms
    )
    SELECT te.event_type, te.n1, te.n2,
           CAST(te.n1 * 1000000 // te.t1 AS BIGINT) AS share1_ppm,
           CAST(te.n2 * 1000000 // te.t2 AS BIGINT) AS share2_ppm,
           CAST(te.n2 * 1000000 // te.t2
                - te.n1 * 1000000 // te.t1 AS BIGINT) AS delta_ppm,
           tv.tv_ppm
    FROM terms te, tv ORDER BY te.event_type
"""


# --- q403: dedup keep-policy divergence -------------------------------------------


def q403_keep_policy_divergence(spark, sf_dir):
    """Dedup survivor-POLICY audit: over the multi-document 20-token
    span clusters (the q133 dup unit — exact doc dups don't exist
    here, span dups do), how often does "keep first by id" pick a
    DIFFERENT survivor than "keep best by quality", and how much mean
    quality does the cheap policy leave on the table? q350 measures the
    bias of kept-vs-dropped; this prices the CHOICE of keep rule — the
    argmax is encoded as one scalar key (q·10¹⁰ − doc_id) so the
    tie-break is deterministic and identical in both engines.

    Scale shape: spans collapse to distinct (fingerprint, doc) pairs;
    ONE fingerprint-keyed aggregate computes both survivors; output is
    a single row.
    """
    from adhesive_spark.operators.text import quality_score, scaled_long
    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
        scaled_long(quality_score(F.col("text")), 4).alias("q"),
    )
    # materialize the distinct (doc, q, span-fp) stream once: both the
    # survivor aggregate and the keep-first quality join-back re-ran
    # tokenize + quality_score + the span-md5 explode — the query's
    # whole kernel cost, twice. The checkpoint stores the same narrow
    # rows the distinct's shuffle writes.
    spans = (
        scored.select(
            "doc_id",
            "q",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) div 20 - 1),"
                    " i -> md5(concat_ws(' ',"
                    " slice(toks, i * 20 + 1, 20))))"
                )
            ).alias("fp"),
        )
        .where(F.size("toks") >= 20)
        .distinct()
        .transform(checkpoint_corpus)
    )
    per = (
        spans.groupBy("fp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keep_first"),
            F.max_by(
                "doc_id",
                F.expr("q * 10000000000 - doc_id"),
            ).cast("long").alias("keep_best"),
            F.max("q").cast("long").alias("q_best"),
        )
        .where(F.col("n_docs") > 1)
    )
    # quality of the keep-first survivor: join back on (fp, doc_id)
    qf = spans.select(
        "fp", F.col("doc_id").alias("keep_first"), F.col("q").alias("q_first")
    )
    return (
        per.join(qf, ["fp", "keep_first"])
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.count_if(F.col("keep_first") != F.col("keep_best"))
            .cast("long")
            .alias("divergent"),
            F.expr(
                "CAST(count_if(keep_first != keep_best) * 1000000"
                " div count(*) AS BIGINT)"
            ).alias("divergent_ppm"),
            F.sum(F.col("q_best") - F.col("q_first"))
            .cast("long")
            .alias("q_gain_total"),
            F.expr(
                "CAST(sum(q_best - q_first) * 1000 div count(*)"
                " AS BIGINT)"
            ).alias("q_gain_per_cluster_milli"),
        )
    )


ESTIMATOR_QUERIES["q403_keep_policy_divergence"] = q403_keep_policy_divergence


def _keep_policy_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    ),
    scored AS (
      SELECT doc_id, toks,
             CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS q
      FROM t
    ),
    spans AS (
      SELECT DISTINCT doc_id, q,
             md5(concat_ws(' ', toks[i * 20 + 1:i * 20 + 20])) AS fp
      FROM scored, LATERAL (SELECT UNNEST(range(0, len(toks) // 20)) AS i) g
    ),
    per AS (
      SELECT fp,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MIN(doc_id) AS BIGINT) AS keep_first,
             CAST(arg_max(doc_id, q * 10000000000 - doc_id) AS BIGINT)
               AS keep_best,
             CAST(MAX(q) AS BIGINT) AS q_best
      FROM spans GROUP BY fp HAVING COUNT(*) > 1
    ),
    joined AS (
      SELECT p.*, s.q AS q_first
      FROM per p JOIN spans s
        ON p.fp = s.fp AND p.keep_first = s.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) FILTER (WHERE keep_first != keep_best)
                AS BIGINT) AS divergent,
           CAST(COUNT(*) FILTER (WHERE keep_first != keep_best)
                * 1000000 // COUNT(*) AS BIGINT) AS divergent_ppm,
           CAST(SUM(q_best - q_first) AS BIGINT) AS q_gain_total,
           CAST(SUM(q_best - q_first) * 1000 // COUNT(*) AS BIGINT)
             AS q_gain_per_cluster_milli
    FROM joined
    """


ESTIMATOR_ORACLES["q403_keep_policy_divergence"] = _keep_policy_oracle()


# --- q404: autoscaler lag cost simulation -----------------------------------------


def q404_autoscale_lag_cost(spark, sf_dir):
    """Reactive-autoscaler lag cost, simulated on the real hourly load:
    a scaler that provisions hour t at hour t−1's observed load drops
    every request above that; a static fleet sized at the peak drops
    nothing but idles. Ships both bills — dropped share under reactive
    scaling, utilization under static peak — the two ends of the
    trade q383's load factor summarizes (this SIMULATES the policies
    instead of reading a ratio). Hour grid is epoch-hours; the lag runs
    over the bounded observed-hour table.

    Scale shape: events collapse to ≤ span-hours rows; the lag window
    and both bills run on that bounded table (single-partition window
    over the hour grid — bounded-domain, replication-invariant).
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(unix_timestamp(ts) div 3600 AS BIGINT)").alias("h")
    )
    hourly = (
        ev.groupBy("h")
        .agg(F.count("*").cast("long").alias("load"))
        .localCheckpoint(eager=True)
    )
    # bounded-domain: observed hours only (replication-invariant)
    wh = Window.orderBy("h")
    sim = hourly.select(
        "h",
        "load",
        F.coalesce(F.lag("load").over(wh), F.lit(0)).alias("prov"),
    )
    return sim.agg(
        F.count("*").cast("long").alias("active_hours"),
        F.sum("load").cast("long").alias("total_load"),
        F.max("load").cast("long").alias("peak_load"),
        F.sum(F.greatest(F.col("load") - F.col("prov"), F.lit(0)))
        .cast("long")
        .alias("dropped_reactive"),
        F.expr(
            "CAST(sum(greatest(load - prov, 0)) * 1000000"
            " div sum(load) AS BIGINT)"
        ).alias("dropped_share_ppm"),
        F.expr(
            "CAST(sum(load) * 1000000"
            " div (count(*) * max(load)) AS BIGINT)"
        ).alias("static_util_ppm"),
    )


ESTIMATOR_QUERIES["q404_autoscale_lag_cost"] = q404_autoscale_lag_cost

ESTIMATOR_ORACLES["q404_autoscale_lag_cost"] = """
    WITH hourly AS (
      SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS h,
             CAST(COUNT(*) AS BIGINT) AS load
      FROM events GROUP BY 1
    ),
    sim AS (
      SELECT h, load,
             COALESCE(LAG(load) OVER (ORDER BY h), 0) AS prov
      FROM hourly
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS active_hours,
           CAST(SUM(load) AS BIGINT) AS total_load,
           CAST(MAX(load) AS BIGINT) AS peak_load,
           CAST(SUM(GREATEST(load - prov, 0)) AS BIGINT)
             AS dropped_reactive,
           CAST(SUM(GREATEST(load - prov, 0)) * 1000000 // SUM(load)
                AS BIGINT) AS dropped_share_ppm,
           CAST(SUM(load) * 1000000 // (COUNT(*) * MAX(load)) AS BIGINT)
             AS static_util_ppm
    FROM sim
"""


# --- q405: dictionary-encoding ROI audit ------------------------------------------


def q405_dict_encoding_roi(spark, sf_dir):
    """Dictionary-encoding ROI per string column: raw byte mass vs the
    dictionary layout (distinct values' bytes + a 2-byte code per row)
    for source / lang / text — the q391 (delta) sibling for the OTHER
    big parquet encoding decision, answered from one aggregate per
    column instead of a write benchmark. A text column at ~0 ROI and a
    source column at ~99% is the expected shape; anything else flags a
    column whose cardinality model is wrong before a 100 TB rewrite.

    Scale shape: one distinct-value aggregate per column (map-side
    combined), then 1-row math; output is 3 rows.
    """
    docs = load_table(spark, sf_dir, "documents")

    def _col(name):
        per_val = docs.groupBy(F.col(name).alias("v")).agg(
            F.count("*").cast("long").alias("c")
        )
        return per_val.agg(
            F.lit(name).alias("column"),
            F.sum("c").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_distinct"),
            F.sum(F.length("v") * F.col("c")).cast("long").alias(
                "raw_bytes"
            ),
            (
                F.sum(F.length("v")) + F.sum("c") * 2
            ).cast("long").alias("dict_bytes"),
        )

    out = _col("source").unionByName(_col("lang")).unionByName(
        _col("text")
    )
    return out.select(
        "column",
        "n_rows",
        "n_distinct",
        "raw_bytes",
        "dict_bytes",
        F.expr(
            "CAST(greatest(raw_bytes - dict_bytes, 0) * 1000000"
            " div raw_bytes AS BIGINT)"
        ).alias("roi_ppm"),
    ).orderBy("column")


ESTIMATOR_QUERIES["q405_dict_encoding_roi"] = q405_dict_encoding_roi

ESTIMATOR_ORACLES["q405_dict_encoding_roi"] = """
    WITH rungs AS (
      SELECT 'source' AS col, source AS v FROM documents
      UNION ALL SELECT 'lang', lang FROM documents
      UNION ALL SELECT 'text', text FROM documents
    ),
    per_val AS (
      SELECT col, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM rungs GROUP BY col, v
    ),
    agg AS (
      SELECT col AS "column",
             CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(length(v) * c) AS BIGINT) AS raw_bytes,
             CAST(SUM(length(v)) + SUM(c) * 2 AS BIGINT) AS dict_bytes
      FROM per_val GROUP BY col
    )
    SELECT "column", n_rows, n_distinct, raw_bytes, dict_bytes,
           CAST(GREATEST(raw_bytes - dict_bytes, 0) * 1000000
                // raw_bytes AS BIGINT) AS roi_ppm
    FROM agg ORDER BY "column"
"""


# --- q406: bipartite degree assortativity ------------------------------------------


def q406_degree_assortativity(spark, sf_dir):
    """Degree-assortativity audit of the part–supplier affiliation
    graph: over distinct edges, does a high-degree part tend to meet a
    high-degree supplier (positive) or a low-degree one (negative —
    hub-and-spoke)? Ships the exact integer covariance numerator sign
    and a scaled covariance — the q326-hubness question asked of a
    RELATIONAL graph, and the structural prior behind q48's salting
    decision (disassortative hubs are exactly the whale-key shape).
    The covariance numerator can be NEGATIVE: Spark ``div`` and DuckDB
    ``//`` both truncate toward zero (engine-verified), unlike
    Python's flooring ``//`` — the replay pytest emulates trunc.

    Scale shape: edges collapse to distinct once; two degree aggregates
    rejoin via broadcast; one moment aggregate ends it. Never node².
    """
    edges = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .transform(checkpoint_corpus)
    )
    pdeg = edges.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("dp")
    )
    sdeg = edges.groupBy("l_suppkey").agg(
        F.count("*").cast("long").alias("ds")
    )
    xy = (
        edges.join(F.broadcast(pdeg), "l_partkey")
        .join(F.broadcast(sdeg), "l_suppkey")
        .select("dp", "ds")
    )
    return xy.agg(
        F.count("*").cast("long").alias("n_edges"),
        F.sum("dp").cast("long").alias("sx"),
        F.sum("ds").cast("long").alias("sy"),
        F.sum(F.col("dp") * F.col("ds")).cast("long").alias("sxy"),
    ).select(
        "n_edges",
        F.expr(
            "CAST(sign(CAST(n_edges AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * sy) AS BIGINT)"
        ).alias("cov_sign"),
        F.expr(
            "CAST((CAST(n_edges AS DECIMAL(38,0)) * sxy"
            "      - CAST(sx AS DECIMAL(38,0)) * sy) * 1000"
            " div (CAST(n_edges AS DECIMAL(38,0)) * n_edges)"
            " AS BIGINT)"
        ).alias("cov_milli"),
    )


ESTIMATOR_QUERIES["q406_degree_assortativity"] = q406_degree_assortativity

ESTIMATOR_ORACLES["q406_degree_assortativity"] = """
    WITH edges AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    pdeg AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS dp
      FROM edges GROUP BY l_partkey
    ),
    sdeg AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS ds
      FROM edges GROUP BY l_suppkey
    ),
    xy AS (
      SELECT p.dp, s.ds
      FROM edges e
      JOIN pdeg p ON e.l_partkey = p.l_partkey
      JOIN sdeg s ON e.l_suppkey = s.l_suppkey
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
             CAST(SUM(dp) AS BIGINT) AS sx,
             CAST(SUM(ds) AS BIGINT) AS sy,
             CAST(SUM(dp * ds) AS BIGINT) AS sxy
      FROM xy
    )
    SELECT n_edges,
           CAST(SIGN(CAST(n_edges AS HUGEINT) * sxy
                     - CAST(sx AS HUGEINT) * sy) AS BIGINT) AS cov_sign,
           CAST((CAST(n_edges AS HUGEINT) * sxy
                 - CAST(sx AS HUGEINT) * sy) * 1000
                // (CAST(n_edges AS HUGEINT) * n_edges) AS BIGINT)
             AS cov_milli
    FROM agg
"""


# --- q407: shingle-size dedup-knob ladder -------------------------------------------


def q407_shingle_size_ladder(spark, sf_dir):
    """Shingle-size knob ladder for near-dup detection: at n ∈ {2, 3, 5}
    word-shingles over the capped doc_id < 200 corpus (the q33 cap —
    the pair term is quadratic BY DESIGN and priced by the stress
    harness, not by sf), the candidate-pair count (any shared shingle),
    the pairs whose exact Jaccard clears 0.5, and the implied
    precision — the knob audit for the single most consequential
    constant in the dedup stack (q33/q37 RUN one n; this prices the
    choice). Jaccard from grouped counts (|∩| per pair, sizes per doc)
    — no array intersection, identical in both engines.

    Scale shape: ONE distinct (rung, doc, shingle) explode — the token
    split and gram build run once per document for ALL rungs
    (word_shingles_multi), eager-checkpointed — then one (n, shingle)
    equi-join and one pair aggregate cover every rung; sizes rejoin via
    broadcast; the 3-row rung spine left-join keeps a zero-candidate
    rung's (0, 0, 0) row identical to the old per-rung global
    aggregates.
    """
    from adhesive_spark.operators.dedup import word_shingles_multi
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    )
    rungs = (2, 3, 5)
    sh = (
        docs.select(
            "doc_id",
            F.explode(word_shingles_multi(F.col("text"), rungs)).alias("g"),
        )
        .select("doc_id", F.col("g.n").alias("n"), F.col("g.s").alias("s"))
        .distinct()
        .transform(checkpoint_corpus)
    )
    sizes = sh.groupBy("n", "doc_id").agg(
        F.count("*").cast("long").alias("sz")
    )
    a = sh.select("n", F.col("doc_id").alias("ida"), "s")
    b = sh.select("n", F.col("doc_id").alias("idb"), "s")
    common = (
        a.join(b, ["n", "s"])
        .where(F.col("ida") < F.col("idb"))
        .groupBy("n", "ida", "idb")
        .agg(F.count("*").cast("long").alias("common"))
    )
    pairs = (
        common.join(
            F.broadcast(
                sizes.select(
                    "n",
                    F.col("doc_id").alias("ida"),
                    F.col("sz").alias("sza"),
                )
            ),
            ["n", "ida"],
        )
        .join(
            F.broadcast(
                sizes.select(
                    "n",
                    F.col("doc_id").alias("idb"),
                    F.col("sz").alias("szb"),
                )
            ),
            ["n", "idb"],
        )
        .select(
            "n",
            F.expr(
                "CAST(common * 1000000"
                " div (sza + szb - common) AS BIGINT)"
            ).alias("jacc_ppm"),
        )
    )
    per_rung = pairs.groupBy("n").agg(
        F.count("*").cast("long").alias("candidate_pairs"),
        F.count_if(F.col("jacc_ppm") >= 500000)
        .cast("long")
        .alias("verified_pairs"),
        F.expr(
            "CAST(count_if(jacc_ppm >= 500000) * 1000000"
            " div greatest(count(*), 1) AS BIGINT)"
        ).alias("precision_ppm"),
    )
    spine = spark.createDataFrame(
        [(n,) for n in rungs], "shingle_n bigint"
    )
    zero = F.lit(0).cast("long")
    return (
        spine.join(
            per_rung.withColumnRenamed("n", "shingle_n"), "shingle_n", "left"
        )
        .select(
            "shingle_n",
            F.coalesce("candidate_pairs", zero).alias("candidate_pairs"),
            F.coalesce("verified_pairs", zero).alias("verified_pairs"),
            F.coalesce("precision_ppm", zero).alias("precision_ppm"),
        )
        .orderBy("shingle_n")
    )


ESTIMATOR_QUERIES["q407_shingle_size_ladder"] = q407_shingle_size_ladder


def _shingle_ladder_oracle() -> str:
    def rung(n):
        return f"""
      SELECT {n} AS shingle_n, CAST(COUNT(*) AS BIGINT) AS candidate_pairs,
             CAST(COUNT(*) FILTER (WHERE jacc_ppm >= 500000) AS BIGINT)
               AS verified_pairs,
             CAST(COUNT(*) FILTER (WHERE jacc_ppm >= 500000) * 1000000
                  // GREATEST(COUNT(*), 1) AS BIGINT) AS precision_ppm
      FROM (
        SELECT CAST(x.common * 1000000
                    // (sa.sz + sb.sz - x.common) AS BIGINT) AS jacc_ppm
        FROM (
          SELECT a.doc_id AS ida, b.doc_id AS idb,
                 CAST(COUNT(*) AS BIGINT) AS common
          FROM sh_{n} a JOIN sh_{n} b
            ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ) x
        JOIN (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
              FROM sh_{n} GROUP BY doc_id) sa ON x.ida = sa.doc_id
        JOIN (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
              FROM sh_{n} GROUP BY doc_id) sb ON x.idb = sb.doc_id
      )"""

    def sh_cte(n):
        return f"""
    sh_{n} AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, UNNEST({_shingles(n)}) AS s FROM t
      )
    )"""

    return f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 200
    ),
    {sh_cte(2)},
    {sh_cte(3)},
    {sh_cte(5)}
    SELECT * FROM ({rung(2)} UNION ALL {rung(3)} UNION ALL {rung(5)})
    ORDER BY shingle_n
    """


ESTIMATOR_ORACLES["q407_shingle_size_ladder"] = _shingle_ladder_oracle()


# --- q408: weekly quantile control chart --------------------------------------------


def q408_quantile_control_chart(spark, sf_dir):
    """Weekly quantile control chart of event value: exact p50/p90 per
    ingest week (days-since-start div 7) with each week's drift vs
    week 0 in ppm — the operational control chart that catches a
    quiet distribution slide between q340's formal KS alarms (KS says
    "different"; this says WHERE the percentile moved and by how
    much). Quantiles off the per-week distinct-cents grid
    (partitioned, bounded-domain); division last everywhere.

    Scale shape: one aggregate to (week, cents, cnt); all quantile and
    drift math on that bounded grid; output is one row per week.
    """
    ev = load_table(spark, sf_dir, "events")
    start = F.broadcast(ev.agg(F.min("ts").alias("t0")))
    weekly = (
        ev.crossJoin(start)
        .select(
            (F.datediff(F.col("ts"), F.col("t0")) / 7)
            .cast("long")
            .alias("w"),
            F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("c"),
        )
        .groupBy("w", "c")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    n_per = weekly.groupBy("w").agg(
        F.sum("cnt").cast("long").alias("n")
    )
    wcum = (
        Window.partitionBy("w")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = weekly.select(
        "w", "c", F.sum("cnt").over(wcum).alias("cum")
    ).join(n_per, "w")
    p50 = (
        cum.where(F.col("cum") * 2 >= F.col("n"))
        .groupBy("w")
        .agg(F.min("c").cast("long").alias("p50_c"))
    )
    p90 = (
        cum.where(F.col("cum") * 10 >= F.col("n") * 9)
        .groupBy("w")
        .agg(F.min("c").cast("long").alias("p90_c"))
    )
    chart = n_per.join(p50, "w").join(p90, "w")
    base = F.broadcast(
        chart.where(F.col("w") == 0).select(
            F.col("p50_c").alias("b50"), F.col("p90_c").alias("b90")
        )
    )
    return (
        chart.crossJoin(base)
        .select(
            F.col("w").alias("week"),
            "n",
            "p50_c",
            "p90_c",
            F.expr(
                "CAST((p50_c - b50) * 1000000 div greatest(b50, 1)"
                " AS BIGINT)"
            ).alias("p50_drift_ppm"),
            F.expr(
                "CAST((p90_c - b90) * 1000000 div greatest(b90, 1)"
                " AS BIGINT)"
            ).alias("p90_drift_ppm"),
        )
        .orderBy("week")
    )


ESTIMATOR_QUERIES["q408_quantile_control_chart"] = q408_quantile_control_chart

ESTIMATOR_ORACLES["q408_quantile_control_chart"] = """
    WITH start_t AS (SELECT MIN(ts) AS t0 FROM events),
    weekly AS (
      SELECT date_diff('day', s.t0, e.ts) // 7 AS w,
             CAST(ROUND(e.value * 100, 0) AS BIGINT) AS c,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events e, start_t s GROUP BY 1, 2
    ),
    n_per AS (
      SELECT w, CAST(SUM(cnt) AS BIGINT) AS n FROM weekly GROUP BY w
    ),
    cum AS (
      SELECT wk.w, wk.c,
             SUM(wk.cnt) OVER (PARTITION BY wk.w ORDER BY wk.c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             np.n
      FROM weekly wk JOIN n_per np ON wk.w = np.w
    ),
    p50 AS (
      SELECT w, CAST(MIN(c) AS BIGINT) AS p50_c
      FROM cum WHERE cum * 2 >= n GROUP BY w
    ),
    p90 AS (
      SELECT w, CAST(MIN(c) AS BIGINT) AS p90_c
      FROM cum WHERE cum * 10 >= n * 9 GROUP BY w
    ),
    chart AS (
      SELECT np.w, np.n, p50.p50_c, p90.p90_c
      FROM n_per np JOIN p50 ON np.w = p50.w JOIN p90 ON np.w = p90.w
    ),
    base AS (
      SELECT p50_c AS b50, p90_c AS b90 FROM chart WHERE w = 0
    )
    SELECT CAST(ch.w AS BIGINT) AS week, ch.n, ch.p50_c, ch.p90_c,
           CAST((ch.p50_c - b.b50) * 1000000 // GREATEST(b.b50, 1)
                AS BIGINT) AS p50_drift_ppm,
           CAST((ch.p90_c - b.b90) * 1000000 // GREATEST(b.b90, 1)
                AS BIGINT) AS p90_drift_ppm
    FROM chart ch, base b ORDER BY week
"""
