"""Corpus/label audit queries (q306+): the data-quality operations
around a training run that q280–q305 did not yet cover — pairwise
preference rating (Bradley–Terry), content-defined-chunking dedup,
readability profiling, inter-annotator reliability (Krippendorff's
alpha), autocorrelation of ingest volume, an in-engine linear quality
classifier, packing-policy efficiency ladders, planted-mutation dedup
calibration, restrictive-license propagation through the near-dup
graph, annotation-panel planning, multi-probe LSH, hubness/isotropy
embedding QA, the HLL/CMS/MinHash/IVF parameter ladders (measure the
knob, don't formula-read it), prefix-cache and index-cost planners,
retention sweeps, and experiment sizing.

House conventions: exact integer arithmetic (ppm/milli fixed point,
division LAST, Spark ``div`` / DuckDB ``//`` — both truncate toward
zero, including on DECIMAL/HUGEINT), portable md5 hashing, scalar-only
output columns, identical column aliases in query and oracle.

Reference parity note: the reference engine (milenkovicm/adhesive,
src/fusion.rs) delegates its relational surface to DataFusion and ships
none of this; this module is SURVEY §2.3 extension surface for the
100 TB pipeline.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from adhesive_spark.queries.oracle_fragments import (
    _NORM,
    _PAIR_CTES,
    _TOKS,
    _byte_from_hex,
    _h32,
    _quality_sql,
)
from adhesive_spark.sources.registry import checkpoint_corpus, load_table

AUDIT_QUERIES: dict = {}
AUDIT_ORACLES: dict = {}

# --- q306: Bradley–Terry preference ratings (fixed-point MM) -----------------


def q306_bradley_terry(spark, sf_dir):
    """Bradley–Terry ratings from pairwise preferences via 3
    minorization–maximization iterations (Hunter 2004, "MM algorithms
    for generalized Bradley–Terry models") — the arena-leaderboard /
    reward-model-data op: convert "A beat B" counts into strengths.

    Preferences: consecutive events of one user (ts, event_id order)
    form a comparison between their event types; the higher ``value``
    wins (ties and same-type pairs are skipped). The win matrix is
    normalized to ppm of total comparisons FIRST, so every later
    number is bounded by 1e6 regardless of corpus size — the iteration
    arithmetic never grows with the data. MM update (all integer):
    ``p'_i = W_i·1e12 div Σ_j c_ij·1e12 div (p_i+p_j)``, then ratings
    are renormalized to mean 1e6. Deterministic and engine-exact —
    which is what lets an iterative fixed-point solve be value-hashed
    across engines (the q106 integer-PageRank discipline).

    Scale shape: ONE pass over events (per-user lag window) collapses
    the corpus into a K×K win matrix (K = #event types, ≤ dozens);
    every MM iteration then runs on K² rows — broadcast joins, no
    corpus-sized shuffle after the first aggregate. At 100 TB the
    matrix is still K², so iteration cost is O(1) in corpus size."""
    return bradley_terry_report(load_table(spark, sf_dir, "events"))


def bradley_terry_report(ev):
    """DF-level core of q306 (takes any events DataFrame with
    user_id/ts/event_id/event_type/value) — shared with the stress
    harness, which drives it over the N×-replicated log."""
    ev = ev.select("user_id", "ts", "event_id", "event_type", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    duels = (
        ev.select(
            "event_type",
            "value",
            F.lag("event_type").over(w).alias("prev_type"),
            F.lag("value").over(w).alias("prev_value"),
        )
        .where(
            F.col("prev_type").isNotNull()
            & (F.col("prev_type") != F.col("event_type"))
            & (F.col("prev_value") != F.col("value"))
        )
        .select(
            F.when(F.col("value") > F.col("prev_value"), F.col("event_type"))
            .otherwise(F.col("prev_type"))
            .alias("winner"),
            F.when(F.col("value") > F.col("prev_value"), F.col("prev_type"))
            .otherwise(F.col("event_type"))
            .alias("loser"),
        )
    )
    wins = duels.groupBy("winner", "loser").agg(
        F.count("*").cast("long").alias("n")
    )
    # The win matrix is CONTRACTUALLY tiny -- K x K where K is the
    # event-type vocabulary (<= dozens), bounded by the schema, not the
    # corpus -- so the ppm normalization and the MM fixed point run on
    # the DRIVER over the collected matrix (the same class as
    # clustering.py's k-centroid collect: the bytes a broadcast side
    # would materialize anyway). The previous in-engine formulation ran
    # ~10 tiny Spark jobs per MM iteration (2 broadcast joins +
    # aggregate + 2 crossJoin-aggs + checkpoint) -- ~3 s of fixed
    # scheduling overhead on 20 rows at sf0.1; the ONE corpus-sized
    # pass (the per-user lag window into `wins`) stays distributed and
    # is unchanged. The integer arithmetic is replicated EXACTLY
    # (nonneg longs: Spark `div`/`greatest` == Python `//`/`max`, and
    # the ppm bounds keep every product < 2^63, so there is no overflow
    # divergence) -- pinned by the MM Python-replay pytest and the
    # DuckDB oracle.
    win_rows = wins.collect()  # <= K^2 rows, K = #event types
    t = sum(r.n for r in win_rows)
    # ppm-normalize: bounds ALL later arithmetic by 1e6 independent of
    # corpus size (n_ppm = n * 1e6 div t, exactly the old engine expr)
    wp = [(r.winner, r.loser, r.n, r.n * 1000000 // t) for r in win_rows]
    # symmetric comparison matrix c_ij (both directions summed)
    c: dict = {}
    w_ppm: dict = {}
    for wnr, lsr, _n, n_ppm in wp:
        c[(wnr, lsr)] = c.get((wnr, lsr), 0) + n_ppm
        c[(lsr, wnr)] = c.get((lsr, wnr), 0) + n_ppm
        w_ppm[wnr] = w_ppm.get(wnr, 0) + n_ppm
    items = sorted({i for i, _j in c})
    k = len(items)
    p = {i: 1000000 for i in items}
    for _ in range(3):
        denom = {i: 0 for i in items}
        for (i, j), c_ppm in c.items():
            denom[i] += c_ppm * 1000000000000 // (p[i] + p[j])
        # max(...,1) guard: a pair count below total/1e6 ppm-truncates
        # to 0; if EVERY pair for an item does, its denom is 0 and the
        # MM step would divide by zero (r8 ADVICE item 2). Mirrored in
        # _bt_iteration_sql so both engines degrade identically.
        p_raw = {
            i: w_ppm.get(i, 0) * 1000000000000 // max(denom[i], 1)
            for i in items
        }
        s = sum(p_raw.values())
        p = {i: p_raw[i] * (k * 1000000) // max(s, 1) for i in items}
    wins_cnt: dict = {}
    losses_cnt: dict = {}
    for wnr, lsr, n, _n_ppm in wp:
        wins_cnt[wnr] = wins_cnt.get(wnr, 0) + n
        losses_cnt[lsr] = losses_cnt.get(lsr, 0) + n
    ranked = sorted(items, key=lambda i: (-p[i], i))
    rows = [
        (rank, i, wins_cnt.get(i, 0), losses_cnt.get(i, 0), p[i])
        for rank, i in enumerate(ranked, start=1)
    ]
    return ev.sparkSession.createDataFrame(
        rows,
        "rank long, item string, wins long, losses long, rating_ppm long",
    )


AUDIT_QUERIES["q306_bradley_terry"] = q306_bradley_terry


def _bt_iteration_sql(prev: str, cur: str) -> str:
    """One MM iteration as CTE text: prev ratings table -> cur."""
    return f"""
    d_{cur} AS (
      SELECT c.i, SUM(c.c_ppm * 1000000000000
                      // (pi.p + pj.p)) AS denom
      FROM c JOIN {prev} pi ON c.i = pi.i JOIN {prev} pj ON c.j = pj.i
      GROUP BY c.i
    ),
    raw_{cur} AS (
      SELECT d.i,
             COALESCE(w.w_ppm, 0) * 1000000000000
               // GREATEST(d.denom, 1) AS p_raw
      FROM d_{cur} d LEFT JOIN w_i w ON d.i = w.i
    ),
    {cur} AS (
      SELECT i, p_raw * (kk.k * 1000000)
                  // GREATEST((SELECT SUM(p_raw) FROM raw_{cur}), 1) AS p
      FROM raw_{cur}, kk
    )"""


AUDIT_ORACLES["q306_bradley_terry"] = f"""
    WITH ev AS (
      SELECT event_type, value,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             LAG(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_value
      FROM events
    ),
    duels AS (
      SELECT CASE WHEN value > prev_value THEN event_type
                  ELSE prev_type END AS winner,
             CASE WHEN value > prev_value THEN prev_type
                  ELSE event_type END AS loser
      FROM ev
      WHERE prev_type IS NOT NULL
        AND prev_type <> event_type AND prev_value <> value
    ),
    wins AS (
      SELECT winner, loser, CAST(COUNT(*) AS BIGINT) AS n
      FROM duels GROUP BY winner, loser
    ),
    wins_ppm AS (
      SELECT winner, loser, n,
             n * 1000000 // (SELECT SUM(n) FROM wins) AS n_ppm
      FROM wins
    ),
    c AS (
      SELECT i, j, SUM(n_ppm) AS c_ppm FROM (
        SELECT winner AS i, loser AS j, n_ppm FROM wins_ppm
        UNION ALL
        SELECT loser AS i, winner AS j, n_ppm FROM wins_ppm
      ) GROUP BY i, j
    ),
    w_i AS (SELECT winner AS i, SUM(n_ppm) AS w_ppm
            FROM wins_ppm GROUP BY winner),
    items AS (SELECT DISTINCT i FROM c),
    kk AS (SELECT COUNT(*) AS k FROM items),
    r0 AS (SELECT i, CAST(1000000 AS BIGINT) AS p FROM items),
    {_bt_iteration_sql("r0", "r1")},
    {_bt_iteration_sql("r1", "r2")},
    {_bt_iteration_sql("r2", "r3")}
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY r3.p DESC, r3.i)
                AS BIGINT) AS rank,
           r3.i AS item,
           CAST(COALESCE(w.tw, 0) AS BIGINT) AS wins,
           CAST(COALESCE(l.tl, 0) AS BIGINT) AS losses,
           CAST(r3.p AS BIGINT) AS rating_ppm
    FROM r3
    LEFT JOIN (SELECT winner, SUM(n) AS tw FROM wins_ppm
               GROUP BY winner) w ON r3.i = w.winner
    LEFT JOIN (SELECT loser, SUM(n) AS tl FROM wins_ppm
               GROUP BY loser) l ON r3.i = l.loser
"""


# --- q308: Flesch reading-ease profile ----------------------------------------


def q308_flesch_readability(spark, sf_dir):
    """Flesch reading-ease per source (Flesch 1948), integer-milli:
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/word)`` with
    the standard vowel-group syllable heuristic (runs of [aeiouy] in
    the normalized text; a space always breaks a run, so the whole-text
    count equals the per-word sum — no token explode needed). Sentences
    = terminal-punctuation count + 1. Both ratios are computed with
    truncating integer division (division LAST), so the score is
    engine-exact; per-source mean and easy/hard band rates in ppm.

    Scale shape: ENTIRELY IN-ROW per document (three regexp passes,
    zero explodes, zero Python), then one rollup shuffle on source —
    corpus-linear, the cheapest possible query shape."""
    from adhesive_spark.operators.text import normalize_text, token_count
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents")).select(
        "source",
        token_count(F.col("text")).cast("long").alias("w"),
        (
            F.length(F.regexp_replace(F.col("text"), r"[^.!?]", ""))
            + F.lit(1)
        )
        .cast("long")
        .alias("s"),
        F.size(
            F.regexp_extract_all(
                normalize_text(F.col("text")), F.lit("[aeiouy]+"), 0
            )
        )
        .cast("long")
        .alias("syl"),
    )
    scored = docs.selectExpr(
        "source",
        "206835 - 1015 * w div s - 84600 * syl div greatest(w, 1L)"
        " AS score_milli",
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("sum(score_milli) div count(*)").alias("mean_score_milli"),
        F.expr(
            "sum(CASE WHEN score_milli >= 60000 THEN 1 ELSE 0 END)"
            " * 1000000 div count(*)"
        ).alias("easy_ppm"),
        F.expr(
            "sum(CASE WHEN score_milli < 30000 THEN 1 ELSE 0 END)"
            " * 1000000 div count(*)"
        ).alias("hard_ppm"),
    )


AUDIT_QUERIES["q308_flesch_readability"] = q308_flesch_readability

AUDIT_ORACLES["q308_flesch_readability"] = f"""
    WITH d AS (
      SELECT source,
             CAST(len({_TOKS}) AS BIGINT) AS w,
             CAST(length(regexp_replace(text, '[^.!?]', '', 'g')) + 1
                  AS BIGINT) AS s,
             CAST(len(regexp_extract_all({_NORM}, '[aeiouy]+'))
                  AS BIGINT) AS syl
      FROM documents
    ),
    scored AS (
      SELECT source,
             206835 - 1015 * w // s
                    - 84600 * syl // greatest(w, 1) AS score_milli
      FROM d
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score_milli) // COUNT(*) AS BIGINT) AS mean_score_milli,
           CAST(SUM(CASE WHEN score_milli >= 60000 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS easy_ppm,
           CAST(SUM(CASE WHEN score_milli < 30000 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS hard_ppm
    FROM scored GROUP BY source
"""


# --- q307: content-defined-chunking dedup audit --------------------------------


def cdc_chunk_report(docs):
    """DF-level core of q307 (takes any documents DataFrame with
    doc_id/source/text) — shared with the stress harness, which drives
    it over the N×-replicated corpus."""
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(docs).select(
        "doc_id", "source", tokens(F.col("text")).alias("toks")
    )

    init = F.struct(
        F.array().cast("array<string>").alias("chunks"),
        F.lit("").alias("cur"),
    )

    def step(acc, tok):
        cur2 = F.when(acc["cur"] == "", tok).otherwise(
            F.concat_ws(" ", acc["cur"], tok)
        )
        is_boundary = portable_hash32(tok) % 16 == F.lit(0)
        return F.when(
            is_boundary,
            F.struct(
                F.array_append(acc["chunks"], cur2).alias("chunks"),
                F.lit("").alias("cur"),
            ),
        ).otherwise(
            F.struct(acc["chunks"].alias("chunks"), cur2.alias("cur"))
        )

    def finish(acc):
        return F.when(
            acc["cur"] == "", acc["chunks"]
        ).otherwise(F.array_append(acc["chunks"], acc["cur"]))

    chunks = docs.select(
        "source",
        F.explode(F.aggregate(F.col("toks"), init, step, finish)).alias(
            "chunk"
        ),
    ).select(
        "source",
        F.md5(F.col("chunk")).alias("h"),
        F.length("chunk").cast("long").alias("n_bytes"),
    )
    per_hash = chunks.groupBy("source", "h").agg(
        F.count("*").cast("long").alias("cnt"),
        F.first("n_bytes").alias("blen"),
    )
    return per_hash.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_chunks"),
        F.count("*").cast("long").alias("n_unique"),
        F.sum(F.col("cnt") * F.col("blen")).cast("long").alias("total_bytes"),
        F.sum("blen").cast("long").alias("unique_bytes"),
        F.expr(
            "(sum(cnt * blen) - sum(blen)) * 1000000"
            " div greatest(sum(cnt * blen), 1L)"
        ).alias("saved_ppm"),
    )


def q307_cdc_chunk_dedup(spark, sf_dir):
    """Content-defined-chunking dedup audit (the rsync/LBFS/restic
    storage trick applied to corpus text): tokens stream into chunks
    that END at any token whose portable hash ≡ 0 (mod 16) — so chunk
    boundaries are CONTENT-defined and survive insertions/deletions
    (a shifted document re-aligns at the next boundary, unlike
    fixed-width blocks). Per source: total vs distinct chunk counts and
    bytes, and the dedup savings in ppm.

    Scale shape: chunk assembly is ENTIRELY IN-ROW (one linear
    higher-order aggregate per document — no window, no shuffle), then
    one explode (≤ tokens rows) and two keyed aggregates
    ((source, chunk_hash) then source — both map-side combined).
    Corpus-linear; the chunk-hash shuffle is the dedup-store build a
    real CDC system ships."""
    return cdc_chunk_report(load_table(spark, sf_dir, "documents"))


AUDIT_QUERIES["q307_cdc_chunk_dedup"] = q307_cdc_chunk_dedup

AUDIT_ORACLES["q307_cdc_chunk_dedup"] = f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ),
    tok AS (
      SELECT doc_id, source, i, toks[i] AS tok,
             CASE WHEN CAST({_h32("md5(toks[i])")} AS BIGINT) % 16 = 0
                  THEN 1 ELSE 0 END AS b
      FROM t, UNNEST(generate_series(1, len(toks))) AS u(i)
    ),
    cidx AS (
      SELECT doc_id, source, i, tok,
             COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cid
      FROM tok
    ),
    chunks AS (
      SELECT source, md5(string_agg(tok, ' ' ORDER BY i)) AS h,
             CAST(length(string_agg(tok, ' ' ORDER BY i)) AS BIGINT)
               AS blen
      FROM cidx GROUP BY doc_id, source, cid
    ),
    per_hash AS (
      SELECT source, h, CAST(COUNT(*) AS BIGINT) AS cnt,
             MIN(blen) AS blen
      FROM chunks GROUP BY source, h
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(cnt * blen) AS BIGINT) AS total_bytes,
           CAST(SUM(blen) AS BIGINT) AS unique_bytes,
           CAST((SUM(cnt * blen) - SUM(blen)) * 1000000
                // greatest(SUM(cnt * blen), 1) AS BIGINT) AS saved_ppm
    FROM per_hash GROUP BY source
"""


# --- q309: Krippendorff's alpha (nominal) ---------------------------------------


def q309_krippendorff_alpha(spark, sf_dir):
    """Krippendorff's alpha (nominal data, 3 raters per unit) over a
    deterministic synthetic annotation panel — the inter-annotator
    reliability gate an RLHF labeling pipeline ships before trusting a
    batch of labels. Raters: annotator A reports the base label (md5
    lane of doc_id, 4 classes); B flips to a different class on a 10%
    hash lane, C on a 20% lane — so the panel has known, non-trivial
    disagreement. Exact integer form: with m=3 raters per unit,
    per-unit disagreement is 6−2e (e = matching rater pairs), so
    ``alpha = 1 − dis·(n−1) / (2·Σ_c n_c(n−n_c))`` with n = 3·units —
    division LAST in DECIMAL(38,0)/HUGEINT (the q252/q271 headroom
    policy), reported in ppm.

    Scale shape: labels and the per-unit pair count are IN-ROW (zero
    explode — category marginals are 4 conditional sums over the 3
    label columns); the whole query is ONE global aggregate. At 100 TB
    it is a single map-side-combined pass."""
    from adhesive_spark.operators.dedup import portable_hash32

    def lane(prefix):
        return portable_hash32(
            F.concat(F.lit(prefix), F.col("doc_id").cast("string"))
        )

    base = lane("lbl:") % 4
    hb, hc = lane("nb:"), lane("nc:")
    ann_a = base
    ann_b = F.when(hb % 10 == 0, (base + 1 + hb % 3) % 4).otherwise(base)
    ann_c = F.when(hc % 5 == 0, (base + 1 + hc % 3) % 4).otherwise(base)

    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents")).select(
        ann_a.alias("a"), ann_b.alias("b"), ann_c.alias("c")
    )
    per_unit = docs.select(
        (
            (F.col("a") == F.col("b")).cast("long")
            + (F.col("a") == F.col("c")).cast("long")
            + (F.col("b") == F.col("c")).cast("long")
        ).alias("e"),
        *[
            (
                (F.col("a") == v).cast("long")
                + (F.col("b") == v).cast("long")
                + (F.col("c") == v).cast("long")
            ).alias(f"m{v}")
            for v in range(4)
        ],
    )
    agg = per_unit.agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum(F.lit(6) - F.lit(2) * F.col("e")).cast("long").alias("dis"),
        F.sum("e").cast("long").alias("agree_pairs"),
        *[F.sum(f"m{v}").cast("long").alias(f"n{v}") for v in range(4)],
    )
    return agg.selectExpr(
        "n_units",
        "n_units * 3 AS n_values",
        "dis",
        "n0 * (n_units * 3 - n0) + n1 * (n_units * 3 - n1)"
        " + n2 * (n_units * 3 - n2) + n3 * (n_units * 3 - n3) AS de2",
        # division LAST with DECIMAL(38,0) headroom: dis·(n−1)·1e6
        # overflows BIGINT past ~7e5 units
        "CAST(1000000 - CAST(dis AS DECIMAL(38,0)) * (n_units * 3 - 1)"
        " * 1000000 div (2 * CAST("
        "n0 * (n_units * 3 - n0) + n1 * (n_units * 3 - n1)"
        " + n2 * (n_units * 3 - n2) + n3 * (n_units * 3 - n3)"
        " AS DECIMAL(38,0))) AS BIGINT) AS alpha_ppm",
        "agree_pairs * 1000000 div (n_units * 3) AS agree_ppm",
    )


AUDIT_QUERIES["q309_krippendorff_alpha"] = q309_krippendorff_alpha

_KRIPP_LANES = f"""
      SELECT CAST({_h32("md5('lbl:' || CAST(doc_id AS VARCHAR))")}
                  AS BIGINT) % 4 AS base,
             CAST({_h32("md5('nb:' || CAST(doc_id AS VARCHAR))")}
                  AS BIGINT) AS hb,
             CAST({_h32("md5('nc:' || CAST(doc_id AS VARCHAR))")}
                  AS BIGINT) AS hc
      FROM documents
"""

AUDIT_ORACLES["q309_krippendorff_alpha"] = f"""
    WITH lanes AS ({_KRIPP_LANES}),
    labels AS (
      SELECT base AS a,
             CASE WHEN hb % 10 = 0 THEN (base + 1 + hb % 3) % 4
                  ELSE base END AS b,
             CASE WHEN hc % 5 = 0 THEN (base + 1 + hc % 3) % 4
                  ELSE base END AS c
      FROM lanes
    ),
    per_unit AS (
      SELECT CAST(a = b AS BIGINT) + CAST(a = c AS BIGINT)
               + CAST(b = c AS BIGINT) AS e,
             {", ".join(
                 f"CAST(a = {v} AS BIGINT) + CAST(b = {v} AS BIGINT)"
                 f" + CAST(c = {v} AS BIGINT) AS m{v}"
                 for v in range(4)
             )}
      FROM labels
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
             CAST(SUM(6 - 2 * e) AS BIGINT) AS dis,
             CAST(SUM(e) AS BIGINT) AS agree_pairs,
             {", ".join(
                 f"CAST(SUM(m{v}) AS BIGINT) AS n{v}" for v in range(4)
             )}
      FROM per_unit
    )
    SELECT n_units, n_units * 3 AS n_values, dis,
           n0 * (n_units * 3 - n0) + n1 * (n_units * 3 - n1)
             + n2 * (n_units * 3 - n2) + n3 * (n_units * 3 - n3) AS de2,
           CAST(1000000 - CAST(dis AS HUGEINT) * (n_units * 3 - 1)
                * 1000000 // (2 * CAST(
                  n0 * (n_units * 3 - n0) + n1 * (n_units * 3 - n1)
                  + n2 * (n_units * 3 - n2) + n3 * (n_units * 3 - n3)
                  AS HUGEINT)) AS BIGINT) AS alpha_ppm,
           agree_pairs * 1000000 // (n_units * 3) AS agree_ppm
    FROM agg
"""


# --- q310: autocorrelation of daily ingest volume -------------------------------


def q310_acf_daily(spark, sf_dir):
    """Autocorrelation function of the daily event-count series at lags
    1–7 — the ingest-seasonality audit behind epoch scheduling and
    anomaly thresholds (a strong lag-7 says "weekly cycle; compare
    day-over-week, not day-over-day"). Exact integer form: residuals
    are n·x_t − S (n = days, S = Σx — integers, no mean rounding);
    ``acf_ppm(k) = Σ r_t·r_{t−k} · 1e6 div Σ r_t²`` with the division
    LAST in DECIMAL(38,0)/HUGEINT (numerators overflow BIGINT past a
    few hundred days of large counts). Negative values truncate toward
    zero in both engines (Spark div / DuckDB //).

    Scale shape: the corpus collapses to the daily spine in ONE
    map-side-combined aggregate; the lag windows then run over ≤
    calendar-bounded rows (a year is 365 rows regardless of corpus
    size), so the single-partition window is bounded by time, not
    data. One corpus pass + O(1) tail."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    stats = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    base = daily.crossJoin(F.broadcast(stats)).select(
        "d", (F.col("n") * F.col("x") - F.col("s")).alias("r")
    )
    # bounded-domain: one row per DAY (calendar-bounded, not corpus-
    # bounded) — single-partition WindowExec is intentional and safe
    wd = Window.orderBy("d")
    lagged = base.select(
        "r",
        *[F.lag("r", k).over(wd).alias(f"r{k}") for k in range(1, 8)],
    )
    agg = lagged.agg(
        F.sum(F.col("r") * F.col("r")).cast("long").alias("den"),
        *[
            F.sum(F.col("r") * F.col(f"r{k}")).cast("long").alias(f"num{k}")
            for k in range(1, 8)
        ],
        *[
            F.count(F.col(f"r{k}")).cast("long").alias(f"np{k}")
            for k in range(1, 8)
        ],
    )
    lags = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag"),
                        F.col(f"np{k}").alias("n_pairs"),
                        F.expr(
                            f"CAST(CAST(num{k} AS DECIMAL(38,0)) * 1000000"
                            " div CAST(den AS DECIMAL(38,0)) AS BIGINT)"
                        ).alias("acf_ppm"),
                    )
                    for k in range(1, 8)
                ]
            )
        ).alias("o")
    )
    return lags.select("o.lag", "o.n_pairs", "o.acf_ppm")


AUDIT_QUERIES["q310_acf_daily"] = q310_acf_daily

AUDIT_ORACLES["q310_acf_daily"] = """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(x) AS BIGINT) AS s FROM daily),
    base AS (
      SELECT d, n * x - s AS r FROM daily, stats
    ),
    lagged AS (
      SELECT r,
             LAG(r, 1) OVER (ORDER BY d) AS r1,
             LAG(r, 2) OVER (ORDER BY d) AS r2,
             LAG(r, 3) OVER (ORDER BY d) AS r3,
             LAG(r, 4) OVER (ORDER BY d) AS r4,
             LAG(r, 5) OVER (ORDER BY d) AS r5,
             LAG(r, 6) OVER (ORDER BY d) AS r6,
             LAG(r, 7) OVER (ORDER BY d) AS r7
      FROM base
    ),
    agg AS (
      SELECT CAST(SUM(r * r) AS BIGINT) AS den,
             CAST(SUM(r * r1) AS BIGINT) AS num1, COUNT(r1) AS np1,
             CAST(SUM(r * r2) AS BIGINT) AS num2, COUNT(r2) AS np2,
             CAST(SUM(r * r3) AS BIGINT) AS num3, COUNT(r3) AS np3,
             CAST(SUM(r * r4) AS BIGINT) AS num4, COUNT(r4) AS np4,
             CAST(SUM(r * r5) AS BIGINT) AS num5, COUNT(r5) AS np5,
             CAST(SUM(r * r6) AS BIGINT) AS num6, COUNT(r6) AS np6,
             CAST(SUM(r * r7) AS BIGINT) AS num7, COUNT(r7) AS np7
      FROM lagged
    )
    SELECT CAST(u.lag AS BIGINT) AS lag,
           CAST(CASE u.lag WHEN 1 THEN np1 WHEN 2 THEN np2 WHEN 3 THEN np3
                WHEN 4 THEN np4 WHEN 5 THEN np5 WHEN 6 THEN np6
                ELSE np7 END AS BIGINT) AS n_pairs,
           CAST(CAST(CASE u.lag WHEN 1 THEN num1 WHEN 2 THEN num2
                     WHEN 3 THEN num3 WHEN 4 THEN num4 WHEN 5 THEN num5
                     WHEN 6 THEN num6 ELSE num7 END AS HUGEINT)
                * 1000000 // CAST(den AS HUGEINT) AS BIGINT) AS acf_ppm
    FROM agg, UNNEST(generate_series(1, 7)) AS u(lag)
"""


# --- q311: in-engine linear quality classifier ----------------------------------


def q311_linear_quality_scorer(spark, sf_dir):
    """A fastText-style linear quality classifier applied IN-ENGINE:
    each token maps to one of 4096 hashed feature buckets whose weight
    is a fixed deterministic function of the bucket (standing in for a
    trained weight vector shipped as a literal table); a document's
    score is the mean token weight in milli. Per source: docs, keep
    rate at score>0 in ppm, and the mean score — the shape of
    CCNet/DCLM-style model-based filtering when the model is linear.

    Scale shape: ENTIRELY IN-ROW — the weight lookup is a closed-form
    function of the portable hash, so there is NO weight-table join at
    all (the 100 TB version broadcasts an 8k-row weight table; the
    plan is otherwise identical); one higher-order sum per document,
    one rollup shuffle. No Python anywhere."""
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "source", tokens(F.col("text")).alias("toks")
    )
    scored = docs.select(
        "source",
        F.aggregate(
            F.transform(
                F.col("toks"),
                lambda t: (portable_hash32(t) % 4096) % 201 - 100,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("wsum"),
        F.size("toks").cast("long").alias("n_toks"),
    ).selectExpr(
        "source", "wsum * 1000 div greatest(n_toks, 1L) AS score_milli"
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr(
            "sum(CASE WHEN score_milli > 0 THEN 1 ELSE 0 END)"
            " * 1000000 div count(*)"
        ).alias("keep_ppm"),
        F.expr("sum(score_milli) div count(*)").alias("mean_score_milli"),
    )


AUDIT_QUERIES["q311_linear_quality_scorer"] = q311_linear_quality_scorer

AUDIT_ORACLES["q311_linear_quality_scorer"] = f"""
    WITH t AS (
      SELECT source, {_TOKS} AS toks FROM documents
    ),
    scored AS (
      SELECT source,
             CAST(COALESCE(list_sum(list_transform(toks,
                    x -> (CAST({_h32("md5(x)")} AS BIGINT) % 4096)
                         % 201 - 100)), 0) AS BIGINT)
               * 1000 // greatest(len(toks), 1) AS score_milli
      FROM t
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN score_milli > 0 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS keep_ppm,
           CAST(SUM(score_milli) // COUNT(*) AS BIGINT) AS mean_score_milli
    FROM scored GROUP BY source
"""


# --- q312: packing-policy efficiency ladder -------------------------------------


def q312_packing_policy_ladder(spark, sf_dir):
    """Sequence-packing efficiency ladder: for context lengths 2048 /
    4096 / 8192, price three packing policies in sequences used and
    padding waste (ppm of slots) — the numbers a batch-assembly job is
    chosen by:

    * ``pad_only`` — one document per sequence (split when longer than
      the context): the no-packing baseline every trainer starts at;
    * ``bucket_shelf`` — docs grouped into power-of-two length classes,
      ``C div class`` docs per sequence (the vLLM/shelf-packing
      discipline — closed-form, order-free, so it needs NO sequential
      scan at any scale);
    * ``concat_split`` — ceil(Σlen/C): the document-splitting lower
      bound (q87's greedy packer achieves it up to one tail sequence).

    Scale shape: per-doc lengths are IN-ROW; each policy is one or two
    map-side-combined aggregates over a 3-row broadcast context spine —
    no windows, no sequential state, corpus-linear. (True first-fit-
    decreasing is deliberately absent: it is inherently sequential and
    its gain over bucket_shelf is bounded by the shelf waste this query
    reports.)"""
    from adhesive_spark.operators.text import token_estimate_bpe

    # one long per doc, but the BPE length kernel is the corpus-pass
    # cost and `per` has THREE aggregate consumers (pad, shelf buckets,
    # splitting fallback) — materialize the lengths once; the re-run
    # per consumer is then a broadcast crossJoin of longs, not the kernel
    docs = load_table(spark, sf_dir, "documents").select(
        token_estimate_bpe(F.col("text")).alias("l")
    ).transform(checkpoint_corpus)
    ctx = F.broadcast(
        spark.range(1).select(
            F.explode(
                F.array(F.lit(2048), F.lit(4096), F.lit(8192))
            ).alias("c")
        )
    )
    per = docs.crossJoin(ctx).select(
        "c",
        "l",
        F.expr("(l + c - 1) div c AS pad_seqs"),
        # power-of-two length class (<= c docs only; longer docs fall
        # back to pad_only splitting inside bucket_shelf too)
        F.expr(
            "CASE WHEN l <= 1 THEN 1"
            " ELSE CAST(pow(2, length(bin(l - 1))) AS BIGINT) END"
        ).alias("cls"),
    )
    pad = per.groupBy("c").agg(
        F.sum("pad_seqs").cast("long").alias("n_seqs"),
        F.expr(
            "(sum(pad_seqs * c) - sum(l)) * 1000000"
            " div (sum(pad_seqs) * c)"
        ).alias("waste_ppm"),
    ).select(F.col("c"), F.lit("pad_only").alias("policy"), "n_seqs", "waste_ppm")

    shelf_buckets = (
        per.groupBy("c", "cls")
        .agg(F.count("*").alias("cnt"), F.sum("l").alias("tot_l"))
        .selectExpr(
            "c",
            "tot_l",
            # cls > c: splitting fallback, ceil(l/c) per doc is not
            # reconstructable from the bucket rollup, so price it as
            # whole multiples of c per doc-chunk: ceil(tot_l / c) + cnt
            # is NOT exact — instead keep exact via per-doc pad_seqs in
            # the fallback aggregate below; buckets here are cls <= c
            "CASE WHEN cls <= c"
            "  THEN (cnt + (c div cls) - 1) div (c div cls)"
            "  ELSE 0 END AS bins",
            "CASE WHEN cls <= c THEN 0 ELSE 1 END AS is_fallback",
            "cnt",
        )
    )
    fallback = per.where(F.expr("cls > c")).groupBy("c").agg(
        F.sum("pad_seqs").alias("fb_seqs"), F.sum("l").alias("fb_l")
    )
    shelf = (
        shelf_buckets.groupBy("c")
        .agg(
            F.sum("bins").alias("bins"),
            F.sum(F.expr("CASE WHEN is_fallback = 0 THEN tot_l ELSE 0 END")).alias(
                "in_l"
            ),
        )
        .join(fallback, "c", "left")
        .selectExpr(
            "c",
            "'bucket_shelf' AS policy",
            "CAST(bins + coalesce(fb_seqs, 0L) AS BIGINT) AS n_seqs",
            "((bins + coalesce(fb_seqs, 0L)) * c - in_l - coalesce(fb_l, 0L))"
            " * 1000000 div ((bins + coalesce(fb_seqs, 0L)) * c) AS waste_ppm",
        )
    )
    lower = per.groupBy("c").agg(
        F.expr("(sum(l) + c - 1) div c").alias("n_seqs"),
        F.expr(
            "(((sum(l) + c - 1) div c) * c - sum(l)) * 1000000"
            " div (((sum(l) + c - 1) div c) * c)"
        ).alias("waste_ppm"),
    ).select(F.col("c"), F.lit("concat_split").alias("policy"), "n_seqs", "waste_ppm")

    return (
        pad.unionByName(shelf)
        .unionByName(lower)
        .select(
            F.col("c").cast("long").alias("context"),
            "policy",
            F.col("n_seqs").cast("long").alias("n_seqs"),
            F.col("waste_ppm").cast("long").alias("waste_ppm"),
        )
    )


AUDIT_QUERIES["q312_packing_policy_ladder"] = q312_packing_policy_ladder

AUDIT_ORACLES["q312_packing_policy_ladder"] = f"""
    WITH d AS (
      SELECT greatest(CAST(ceil(length({_NORM}) / 4.0) AS BIGINT),
                      CAST(len({_TOKS}) AS BIGINT)) AS l
      FROM documents
    ),
    ctx AS (SELECT UNNEST([2048, 4096, 8192]) AS c),
    per AS (
      SELECT c, l, (l + c - 1) // c AS pad_seqs,
             CASE WHEN l <= 1 THEN 1
                  ELSE CAST(pow(2, length(bin(l - 1))) AS BIGINT)
             END AS cls
      FROM d CROSS JOIN ctx
    ),
    pad AS (
      SELECT c, 'pad_only' AS policy,
             CAST(SUM(pad_seqs) AS BIGINT) AS n_seqs,
             (SUM(pad_seqs * c) - SUM(l)) * 1000000
               // (SUM(pad_seqs) * c) AS waste_ppm
      FROM per GROUP BY c
    ),
    sb AS (
      SELECT c, cls, COUNT(*) AS cnt, SUM(l) AS tot_l
      FROM per WHERE cls <= c GROUP BY c, cls
    ),
    shelf_bins AS (
      SELECT c,
             SUM((cnt + (c // cls) - 1) // (c // cls)) AS bins,
             SUM(tot_l) AS in_l
      FROM sb GROUP BY c
    ),
    fb AS (
      SELECT c, SUM(pad_seqs) AS fb_seqs, SUM(l) AS fb_l
      FROM per WHERE cls > c GROUP BY c
    ),
    shelf AS (
      SELECT s.c, 'bucket_shelf' AS policy,
             CAST(s.bins + COALESCE(f.fb_seqs, 0) AS BIGINT) AS n_seqs,
             ((s.bins + COALESCE(f.fb_seqs, 0)) * s.c - s.in_l
               - COALESCE(f.fb_l, 0)) * 1000000
               // ((s.bins + COALESCE(f.fb_seqs, 0)) * s.c) AS waste_ppm
      FROM shelf_bins s LEFT JOIN fb f ON s.c = f.c
    ),
    lower_b AS (
      SELECT c, 'concat_split' AS policy,
             CAST((SUM(l) + c - 1) // c AS BIGINT) AS n_seqs,
             (((SUM(l) + c - 1) // c) * c - SUM(l)) * 1000000
               // (((SUM(l) + c - 1) // c) * c) AS waste_ppm
      FROM per GROUP BY c
    )
    SELECT CAST(c AS BIGINT) AS context, policy,
           CAST(n_seqs AS BIGINT) AS n_seqs,
           CAST(waste_ppm AS BIGINT) AS waste_ppm
    FROM (SELECT * FROM pad UNION ALL SELECT * FROM shelf
          UNION ALL SELECT * FROM lower_b)
"""


# --- q313: dedup-threshold calibration via planted mutations --------------------


def q313_dedup_threshold_calibration(spark, sf_dir):
    """Calibrate the near-dup Jaccard threshold against a KNOWN
    mutation rate: every document is paired with a planted twin that
    drops every k-th token (k in 3/5/7/10 — 33% down to 10% edit
    rates), and the exact 3-gram Jaccard between original and twin is
    computed IN-ROW (array intersect of distinct shingle sets — the
    pair is known, so no join is needed, unlike a discovery pass).
    Output per k: mean Jaccard and the detection rate at the 0.5
    threshold — the curve that tells a dedup operator what edit
    distance their threshold actually tolerates (the q33/q37 pipelines
    consume the chosen threshold).

    Scale shape: corpus-linear, zero joins, zero explodes beyond the
    4-row per-doc mutation ladder; one rollup shuffle on k."""
    from adhesive_spark.operators.dedup import word_shingles
    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text", tokens(F.col("text")).alias("toks")
    )

    def j_ppm(k):
        kept = F.array_join(
            F.filter(F.col("toks"), lambda t, i: (i + 1) % k != 0), " "
        )
        g1 = word_shingles(F.col("text"), 3)
        g2 = word_shingles(kept, 3)
        inter = F.size(F.array_intersect(g1, g2)).cast("long")
        uni = F.size(g1).cast("long") + F.size(g2).cast("long") - inter
        return F.struct(
            F.lit(k).cast("long").alias("drop_every"),
            (inter * F.lit(1000000)).alias("inum"),
            uni.alias("iden"),
        )

    ladder = docs.select(
        F.explode(F.array(*[j_ppm(k) for k in (3, 5, 7, 10)])).alias("o")
    ).selectExpr("o.drop_every", "o.inum div greatest(o.iden, 1L) AS j_ppm")
    return ladder.groupBy("drop_every").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("sum(j_ppm) div count(*)").alias("mean_j_ppm"),
        F.expr(
            "sum(CASE WHEN j_ppm >= 500000 THEN 1 ELSE 0 END)"
            " * 1000000 div count(*)"
        ).alias("detect_at_500k_ppm"),
    )


AUDIT_QUERIES["q313_dedup_threshold_calibration"] = (
    q313_dedup_threshold_calibration
)

AUDIT_ORACLES["q313_dedup_threshold_calibration"] = f"""
    WITH t AS (
      SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks FROM documents
    ),
    mut AS (
      SELECT doc_id, norm, toks, kk.k,
             list_transform(
               list_filter(generate_series(1, len(toks)),
                           i -> i % kk.k <> 0),
               i -> toks[i]) AS toks2
      FROM t CROSS JOIN (SELECT UNNEST([3, 5, 7, 10]) AS k) kk
    ),
    grams AS (
      SELECT doc_id, k,
             CASE WHEN len(toks) - 2 >= 1
                  THEN list_distinct(list_transform(
                         range(1, len(toks) - 2 + 1),
                         i -> concat_ws(' ', toks[i], toks[i+1],
                                        toks[i+2])))
                  ELSE [norm] END AS g1,
             CASE WHEN len(toks2) - 2 >= 1
                  THEN list_distinct(list_transform(
                         range(1, len(toks2) - 2 + 1),
                         i -> concat_ws(' ', toks2[i], toks2[i+1],
                                        toks2[i+2])))
                  ELSE [array_to_string(toks2, ' ')] END AS g2
      FROM mut
    ),
    j AS (
      SELECT k AS drop_every,
             CAST(len(list_intersect(g1, g2)) AS BIGINT) * 1000000
               // greatest(CAST(len(g1) + len(g2)
                    - len(list_intersect(g1, g2)) AS BIGINT), 1)
               AS j_ppm
      FROM grams
    )
    SELECT CAST(drop_every AS BIGINT) AS drop_every,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(j_ppm) // COUNT(*) AS BIGINT) AS mean_j_ppm,
           CAST(SUM(CASE WHEN j_ppm >= 500000 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS detect_at_500k_ppm
    FROM j GROUP BY drop_every
"""


# --- q314: license propagation through the near-dup graph -----------------------


def q314_license_propagation(spark, sf_dir):
    """Restrictive-license propagation through the NEAR-duplicate graph
    (the governance twin of q148's exact-fingerprint takedown sweep):
    when any member of a near-dup cluster carries a restrictive license
    tag, the whole cluster is restricted — licenses bind to content,
    and a paraphrased/mirrored copy of restricted content is still
    restricted. Tags: a deterministic md5 lane marks ~1/8 of documents
    (stands in for the crawl's license detector). Per source: direct
    tags, tags gained via propagation, and the restricted rate in ppm.

    Scale shape: the pair graph is the q46 machinery (shingle-join
    candidates, df-capped), closure via large-star/small-star
    (O(log² n) rounds regardless of cluster diameter); the label
    propagation itself is ONE max-aggregate on the component key +
    one broadcast-able join back — no per-label iteration."""
    from adhesive_spark.operators.dedup import (
        ngram_jaccard_pairs,
        portable_hash32,
    )
    from adhesive_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300
    )
    tagged = docs.select(
        "doc_id",
        "source",
        (
            portable_hash32(
                F.concat(F.lit("lic:"), F.col("doc_id").cast("string"))
            )
            % 8
            == 0
        )
        .cast("long")
        .alias("restricted"),
    )
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.1)
    comp = connected_components(pairs).withColumnRenamed(
        "node", "doc_id"
    )
    labeled = tagged.join(comp, "doc_id", "left").select(
        "doc_id",
        "source",
        "restricted",
        F.coalesce("component", F.col("doc_id")).alias("component"),
    )
    cluster_max = labeled.groupBy("component").agg(
        F.max("restricted").alias("cluster_restricted")
    )
    out = labeled.join(cluster_max, "component").groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("restricted").cast("long").alias("direct_restricted"),
        F.sum("cluster_restricted").cast("long").alias("total_restricted"),
        F.sum(
            F.col("cluster_restricted") - F.col("restricted")
        ).cast("long").alias("propagated"),
    )
    return out.selectExpr(
        "source",
        "n_docs",
        "direct_restricted",
        "total_restricted",
        "propagated",
        "total_restricted * 1000000 div n_docs AS restricted_ppm",
    )


AUDIT_QUERIES["q314_license_propagation"] = q314_license_propagation


def _license_oracle() -> str:
    return f"""
    WITH RECURSIVE {_PAIR_CTES},
    tagged AS (
      SELECT doc_id, source,
             CASE WHEN CAST({_h32("md5('lic:' || CAST(doc_id AS VARCHAR))")}
                       AS BIGINT) % 8 = 0 THEN 1 ELSE 0 END AS restricted
      FROM documents WHERE doc_id < 300
    ),
    labeled AS (
      SELECT tg.doc_id, tg.source, tg.restricted,
             COALESCE(comp.component, tg.doc_id) AS component
      FROM tagged tg LEFT JOIN comp ON tg.doc_id = comp.node
    ),
    cm AS (
      SELECT component, MAX(restricted) AS cluster_restricted
      FROM labeled GROUP BY component
    )
    SELECT l.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(l.restricted) AS BIGINT) AS direct_restricted,
           CAST(SUM(cm.cluster_restricted) AS BIGINT) AS total_restricted,
           CAST(SUM(cm.cluster_restricted - l.restricted) AS BIGINT)
             AS propagated,
           CAST(SUM(cm.cluster_restricted) * 1000000 // COUNT(*)
                AS BIGINT) AS restricted_ppm
    FROM labeled l JOIN cm ON l.component = cm.component
    GROUP BY l.source
"""


AUDIT_ORACLES["q314_license_propagation"] = _license_oracle()


# --- q315: annotation-panel planner (Spearman–Brown) ----------------------------


def q315_annotation_panel_planner(spark, sf_dir):
    """Annotation-panel sizing: project the q309 panel's measured
    reliability to k = 1..7 raters with the Spearman–Brown prophecy
    formula ``r_k = k·α / (1 + (k−1)·α)`` (integer-ppm, division last)
    and flag the smallest panel that clears the 0.8 publication bar —
    the "how many raters do I need" planner an RLHF labeling budget is
    set from.

    Scale shape: one corpus-collapsing aggregate (the q309 single
    pass), then a 7-row literal spine over the 1-row result — the
    planner itself is metadata-priced at any corpus size."""
    alpha = q309_krippendorff_alpha(spark, sf_dir).select("alpha_ppm")
    ks = spark.range(1, 8).select(F.col("id").cast("long").alias("k"))
    return (
        ks.crossJoin(F.broadcast(alpha))
        .selectExpr(
            "k",
            "alpha_ppm",
            "k * alpha_ppm * 1000000"
            " div (1000000 + (k - 1) * alpha_ppm) AS projected_alpha_ppm",
        )
        .selectExpr(
            "k",
            "alpha_ppm",
            "projected_alpha_ppm",
            "CASE WHEN projected_alpha_ppm >= 800000 THEN 1 ELSE 0 END"
            " AS meets_bar",
        )
    )


AUDIT_QUERIES["q315_annotation_panel_planner"] = q315_annotation_panel_planner

AUDIT_ORACLES["q315_annotation_panel_planner"] = f"""
    WITH lanes AS ({_KRIPP_LANES}),
    labels AS (
      SELECT base AS a,
             CASE WHEN hb % 10 = 0 THEN (base + 1 + hb % 3) % 4
                  ELSE base END AS b,
             CASE WHEN hc % 5 = 0 THEN (base + 1 + hc % 3) % 4
                  ELSE base END AS c
      FROM lanes
    ),
    per_unit AS (
      SELECT CAST(a = b AS BIGINT) + CAST(a = c AS BIGINT)
               + CAST(b = c AS BIGINT) AS e,
             {", ".join(
                 f"CAST(a = {v} AS BIGINT) + CAST(b = {v} AS BIGINT)"
                 f" + CAST(c = {v} AS BIGINT) AS m{v}"
                 for v in range(4)
             )}
      FROM labels
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
             CAST(SUM(6 - 2 * e) AS BIGINT) AS dis,
             {", ".join(
                 f"CAST(SUM(m{v}) AS BIGINT) AS n{v}" for v in range(4)
             )}
      FROM per_unit
    ),
    alpha AS (
      SELECT CAST(1000000 - CAST(dis AS HUGEINT) * (n_units * 3 - 1)
                  * 1000000 // (2 * CAST(
                    n0 * (n_units * 3 - n0) + n1 * (n_units * 3 - n1)
                    + n2 * (n_units * 3 - n2) + n3 * (n_units * 3 - n3)
                    AS HUGEINT)) AS BIGINT) AS alpha_ppm
      FROM agg
    )
    SELECT CAST(u.k AS BIGINT) AS k, alpha_ppm,
           CAST(u.k * alpha_ppm * 1000000
                // (1000000 + (u.k - 1) * alpha_ppm) AS BIGINT)
             AS projected_alpha_ppm,
           CAST(CASE WHEN u.k * alpha_ppm * 1000000
                     // (1000000 + (u.k - 1) * alpha_ppm) >= 800000
                THEN 1 ELSE 0 END AS BIGINT) AS meets_bar
    FROM alpha, UNNEST(generate_series(1, 7)) AS u(k)
"""


# --- q317: b-bit minwise banding audit ------------------------------------------


def q317_bbit_minhash_audit(spark, sf_dir):
    """b-bit minwise hashing audit (Li & König 2010): storing only the
    lowest b bits of each MinHash value shrinks signature memory 16–32×
    but inflates LSH candidate sets (distinct values can collide in b
    bits). This query prices that tradeoff EXACTLY on the corpus: the
    full 16-band/4-row pipeline's distinct candidate pairs vs the same
    banding over b-bit values, for b = 2 and b = 4 — the number a dedup
    operator uses to pick b before a 100 TB signature build. Full-band
    equality implies b-bit equality, so extra ≥ 0 by construction
    (asserted by pytest).

    Scale shape: the signature pass (the q37 machinery) is shared
    through ONE id-keyed repartition that every lane reads back as a
    reused shuffle stage — the kernel previously re-evaluated once per
    lane per side (6 runtime ArrowEvalPython nodes, r11 dupPy audit);
    now exactly one. The band self-joins keep plain ENSURE exchanges
    so AQE skew splitting stays armed; buckets stay bounded by the
    band-key space. Capped input (doc_id < 600,
    the q116 convention) keeps the pair-quadratic oracle tractable;
    at-scale evidence is the STRESS minhash ladder."""
    from adhesive_spark.operators.dedup import minhash_base_and_bands

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 600
    )
    base, _ = minhash_base_and_bands(docs, "text", "doc_id")
    # one id-keyed exchange both b-bit lanes read back (runtime stage
    # reuse): the signature kernel evaluates ONCE for every lane
    sig_shared = base.select("id", "sig").repartition(F.col("id"))

    def pairs_count(rows):
        # plain ENSURE-exchange self-join (AQE-skew-splittable); the
        # kernel itself is shared through sig_shared below
        a = rows.select(
            F.col("id").alias("id_a"), "band_idx",
            F.col("band_hash").alias("k"),
        )
        b = rows.select(
            F.col("id").alias("id_b"), "band_idx",
            F.col("band_hash").alias("k"),
        )
        return (
            a.join(b, ["band_idx", "k"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .agg(F.count("*").cast("long").alias("n"))
        )

    def bbit_rows(mod):
        # mod=None -> full-width values: candidate sets depend only on
        # band-hash EQUALITY CLASSES, and concat_ws of decimal longs is
        # injective per slice, so building the full lane here (off the
        # shared signature exchange) yields the same cand_full as the
        # operator's own banding while the kernel evaluates ONCE total
        return sig_shared.select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(15)),
                    lambda bi: F.struct(
                        bi.alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                "_",
                                F.transform(
                                    F.slice(F.col("sig"), bi * 4 + 1, 4),
                                    lambda x: (
                                        (x % mod) if mod else x
                                    ).cast("string"),
                                ),
                            )
                        ).alias("band_hash"),
                    ),
                )
            ).alias("b"),
        ).select("id", "b.band_idx", "b.band_hash")

    full_n = pairs_count(bbit_rows(None))
    out = None
    for bits, mod in ((2, 4), (4, 16)):
        row = (
            pairs_count(bbit_rows(mod))
            .withColumnRenamed("n", "cand_bbit")
            .crossJoin(F.broadcast(full_n.withColumnRenamed("n", "cand_full")))
            .select(
                F.lit(bits).cast("long").alias("b_bits"),
                "cand_full",
                "cand_bbit",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.selectExpr(
        "b_bits",
        "cand_full",
        "cand_bbit",
        "cand_bbit - cand_full AS extra",
        "(cand_bbit - cand_full) * 1000000"
        " div greatest(cand_full, 1L) AS inflation_ppm",
    )


AUDIT_QUERIES["q317_bbit_minhash_audit"] = q317_bbit_minhash_audit


def _bbit_oracle() -> str:
    from adhesive_spark.operators.dedup import _MERSENNE, _perm_coeffs
    coeffs = _perm_coeffs(64, 42)
    coeff_rows = ", ".join(
        f"({i}, {a}::BIGINT, {b}::BIGINT)" for i, (a, b) in enumerate(coeffs)
    )
    h32 = (
        f"({_byte_from_hex('h', 1)} * 16777216 "
        f"+ {_byte_from_hex('h', 2)} * 65536 "
        f"+ {_byte_from_hex('h', 3)} * 256 "
        f"+ {_byte_from_hex('h', 4)})"
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks
      FROM documents WHERE doc_id < 600
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
    hx AS (SELECT doc_id, md5(unnest(grams)) AS h FROM g),
    bhr AS (SELECT doc_id, {h32} % {_MERSENNE} AS base FROM hx),
    co(i, a, b) AS (VALUES {coeff_rows}),
    sig AS (
      SELECT bhr.doc_id, co.i,
             MIN((bhr.base * co.a + co.b) % {_MERSENNE}) AS s
      FROM bhr CROSS JOIN co
      GROUP BY bhr.doc_id, co.i
    ),
    bk AS (
      SELECT doc_id, CAST(i // 4 AS INT) AS band_idx,
             md5(string_agg(CAST(s AS VARCHAR), '_' ORDER BY i)) AS k2f,
             md5(string_agg(CAST(s % 4 AS VARCHAR), '_' ORDER BY i)) AS k2,
             md5(string_agg(CAST(s % 16 AS VARCHAR), '_' ORDER BY i)) AS k4
      FROM sig GROUP BY doc_id, CAST(i // 4 AS INT)
    ),
    cf AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT DISTINCT a.doc_id, b.doc_id
        FROM bk a JOIN bk b
          ON a.band_idx = b.band_idx AND a.k2f = b.k2f
         AND a.doc_id < b.doc_id)
    ),
    c2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT DISTINCT a.doc_id, b.doc_id
        FROM bk a JOIN bk b
          ON a.band_idx = b.band_idx AND a.k2 = b.k2
         AND a.doc_id < b.doc_id)
    ),
    c4 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT DISTINCT a.doc_id, b.doc_id
        FROM bk a JOIN bk b
          ON a.band_idx = b.band_idx AND a.k4 = b.k4
         AND a.doc_id < b.doc_id)
    )
    SELECT CAST(2 AS BIGINT) AS b_bits, cf.n AS cand_full,
           c2.n AS cand_bbit, c2.n - cf.n AS extra,
           (c2.n - cf.n) * 1000000 // greatest(cf.n, 1) AS inflation_ppm
    FROM cf, c2
    UNION ALL
    SELECT CAST(4 AS BIGINT), cf.n, c4.n, c4.n - cf.n,
           (c4.n - cf.n) * 1000000 // greatest(cf.n, 1)
    FROM cf, c4
"""


AUDIT_ORACLES["q317_bbit_minhash_audit"] = _bbit_oracle()


# --- q318: per-source quantile-matched quality filtering -------------------------


def q318_quantile_matched_filter(spark, sf_dir):
    """Per-source quantile-matched quality filtering vs a global
    threshold: keeping "quality ≥ global p75" starves weak sources
    (one domain can lose everything), while "top quarter of EACH
    source" preserves the mixture — the per-domain calibration step
    real curation pipelines apply before mixing. This query prices
    both policies exactly: per source, documents kept by its OWN p75
    vs by the corpus-wide p75 (both nearest-rank, ties-inclusive).

    Scale shape: NO per-document ranking anywhere — both thresholds
    come from the distinct-VALUE rank trick (group to (source, q_s)
    counts, running sum over distinct quality values only — the
    q225/q303 bounded-domain discipline), then one broadcast join
    back. A naive row_number-per-source would sort each source in one
    partition; this never does."""
    return quantile_matched_report(load_table(spark, sf_dir, "documents"))


def quantile_matched_report(docs):
    """DF-level core of q318 (takes any documents DataFrame with
    source/text) — shared with the stress harness, which drives it
    over the N×-replicated corpus to prove the distinct-value windows
    stay bounded-domain.

    The corpus is scanned EXACTLY ONCE: the quality pass collapses to
    (source, q_s) counts, which are checkpointed, and thresholds AND
    kept counts are all derived from that bounded-domain table —
    kept = Σ cnt where q_s ≥ threshold, so no second pass over raw
    rows exists at any scale."""
    from adhesive_spark.operators.text import quality_score, scaled_long
    from adhesive_spark.sources.registry import ensure_parallelism

    by_val = (
        ensure_parallelism(docs).select(
            "source",
            scaled_long(quality_score(F.col("text")), 4).alias("q_s"),
        )
        .groupBy("source", "q_s")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    # per-source threshold: largest q_s whose descending cumulative
    # count reaches ceil(n/4) — distinct-value window only
    ws = (
        Window.partitionBy("source")
        .orderBy(F.col("q_s").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    totals = by_val.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_docs")
    )
    local_thr = (
        by_val.select(
            "source", "q_s", F.sum("cnt").over(ws).alias("cum")
        )
        .join(totals, "source")
        .where(F.expr("cum >= (n_docs + 3) div 4"))
        .groupBy("source")
        .agg(F.max("q_s").alias("local_thr"))
    )
    # global threshold: same trick over corpus-wide distinct values
    gv = by_val.groupBy("q_s").agg(F.sum("cnt").cast("long").alias("cnt"))
    # bounded-domain: distinct quality VALUES only (checkpointed
    # distinct-value table, replication-invariant) — the single-
    # partition WindowExec warning is intentional and safe
    wg = (
        Window.orderBy(F.col("q_s").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    global_thr = (
        gv.select("q_s", F.sum("cnt").over(wg).alias("cum"))
        .crossJoin(F.broadcast(by_val.agg(F.sum("cnt").alias("n"))))
        .where(F.expr("cum >= (n + 3) div 4"))
        .agg(F.max("q_s").alias("global_thr"))
    )
    return (
        by_val.join(F.broadcast(local_thr), "source")
        .crossJoin(F.broadcast(global_thr))
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("q_s") >= F.col("local_thr"), F.col("cnt"))
                .otherwise(0)
            )
            .cast("long")
            .alias("kept_local"),
            F.sum(
                F.when(F.col("q_s") >= F.col("global_thr"), F.col("cnt"))
                .otherwise(0)
            )
            .cast("long")
            .alias("kept_global"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "kept_local",
            "kept_global",
            "kept_local * 1000000 div n_docs AS local_ppm",
            "kept_global * 1000000 div n_docs AS global_ppm",
        )
    )


AUDIT_QUERIES["q318_quantile_matched_filter"] = q318_quantile_matched_filter

def _qmf_oracle() -> str:
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
    totals AS (
      SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs
      FROM by_val GROUP BY source
    ),
    local_thr AS (
      SELECT source, MAX(q_s) AS local_thr FROM (
        SELECT b.source, b.q_s,
               SUM(b.cnt) OVER (PARTITION BY b.source ORDER BY b.q_s DESC
                 ROWS UNBOUNDED PRECEDING) AS cum,
               t.n_docs
        FROM by_val b JOIN totals t ON b.source = t.source
      ) WHERE cum >= (n_docs + 3) // 4
      GROUP BY source
    ),
    global_thr AS (
      SELECT MAX(q_s) AS global_thr FROM (
        SELECT q_s,
               SUM(cnt) OVER (ORDER BY q_s DESC ROWS UNBOUNDED PRECEDING)
                 AS cum,
               (SELECT COUNT(*) FROM scored) AS n
        FROM (SELECT q_s, COUNT(*) AS cnt FROM scored GROUP BY q_s)
      ) WHERE cum >= (n + 3) // 4
    )
    SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN s.q_s >= l.local_thr THEN 1 ELSE 0 END)
                AS BIGINT) AS kept_local,
           CAST(SUM(CASE WHEN s.q_s >= g.global_thr THEN 1 ELSE 0 END)
                AS BIGINT) AS kept_global,
           CAST(SUM(CASE WHEN s.q_s >= l.local_thr THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS local_ppm,
           CAST(SUM(CASE WHEN s.q_s >= g.global_thr THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS global_ppm
    FROM scored s
    JOIN local_thr l ON s.source = l.source
    CROSS JOIN global_thr g
    GROUP BY s.source
"""


AUDIT_ORACLES["q318_quantile_matched_filter"] = _qmf_oracle()


# --- q319: deterministic half-sample bootstrap CI ---------------------------------


def q319_halfsample_bootstrap_ci(spark, sf_dir):
    """Uncertainty quantification without randomness: 32 deterministic
    half-sample replicas (row r enters replica b iff
    ``portable_hash32('bs' || b || ':' || event_id)`` is even — an
    honest subsampling bootstrap, reproducible across engines and
    reruns) estimate the sampling spread of each event type's mean
    value; the CI band is the nearest-rank p05/p95 of the 32 replica
    means (ranks 2 and 31). Exact integer cents throughout, division
    LAST — the error bars an experimentation readout ships next to its
    point estimates.

    Scale shape: one explode to a BOUNDED 32× row multiplier that
    map-side combines immediately to the (event_type, replica) grain
    (K·32 rows); the rank window then runs over 32 rows per type.
    Corpus-linear with a constant-factor fan-out; no resampling
    shuffle of raw rows."""
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import scaled_long

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", scaled_long(F.col("value"), 2).alias("c")
    )
    lanes = ev.select(
        "event_type",
        "c",
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(0), F.lit(31)),
                    lambda b: F.when(
                        portable_hash32(
                            F.concat(
                                F.lit("bs"),
                                b.cast("string"),
                                F.lit(":"),
                                F.col("event_id").cast("string"),
                            )
                        )
                        % 2
                        == 0,
                        b,
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("b"),
    )
    rep_means = lanes.groupBy("event_type", "b").agg(
        F.expr("sum(c) div count(*)").alias("rep_mean_c")
    )
    wr = Window.partitionBy("event_type").orderBy("rep_mean_c", "b")
    # Rank cutoffs derive from the PER-TYPE populated replica count (r8
    # ADVICE item 3): with all 32 lanes populated they are the nearest-rank
    # p05/p95 (ranks 2 and 31); a sparse type with fewer lanes degrades to
    # the widest in-range band instead of a silent NULL ci_hi_c.
    ranked = rep_means.select(
        "event_type",
        "rep_mean_c",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n_rep"),
    )
    ci = ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("r") == F.least(F.lit(2), F.col("n_rep")),
                   F.col("rep_mean_c"))
        ).alias("ci_lo_c"),
        F.max(
            F.when(F.col("r") == F.greatest(F.col("n_rep") - 1, F.lit(1)),
                   F.col("rep_mean_c"))
        ).alias("ci_hi_c"),
        F.count("*").cast("long").alias("n_replicas"),
    )
    point = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("sum(c) div count(*)").alias("mean_c"),
    )
    return point.join(ci, "event_type").select(
        "event_type", "n", "mean_c", "ci_lo_c", "ci_hi_c", "n_replicas"
    )


AUDIT_QUERIES["q319_halfsample_bootstrap_ci"] = q319_halfsample_bootstrap_ci

AUDIT_ORACLES["q319_halfsample_bootstrap_ci"] = f"""
    WITH ev AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS c
      FROM events
    ),
    lanes AS (
      SELECT event_type, c, bb.b
      FROM ev CROSS JOIN (SELECT UNNEST(generate_series(0, 31)) AS b) bb
      WHERE CAST({_h32("md5('bs' || CAST(bb.b AS VARCHAR) || ':' || CAST(event_id AS VARCHAR))")}
                 AS BIGINT) % 2 = 0
    ),
    rep_means AS (
      SELECT event_type, b,
             CAST(SUM(c) // COUNT(*) AS BIGINT) AS rep_mean_c
      FROM lanes GROUP BY event_type, b
    ),
    ranked AS (
      SELECT event_type, rep_mean_c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY rep_mean_c, b) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n_rep
      FROM rep_means
    ),
    ci AS (
      SELECT event_type,
             MAX(CASE WHEN r = LEAST(2, n_rep) THEN rep_mean_c END)
               AS ci_lo_c,
             MAX(CASE WHEN r = GREATEST(n_rep - 1, 1) THEN rep_mean_c END)
               AS ci_hi_c,
             CAST(COUNT(*) AS BIGINT) AS n_replicas
      FROM ranked GROUP BY event_type
    ),
    point AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) // COUNT(*) AS BIGINT) AS mean_c
      FROM ev GROUP BY event_type
    )
    SELECT p.event_type, p.n, p.mean_c, ci.ci_lo_c, ci.ci_hi_c,
           ci.n_replicas
    FROM point p JOIN ci ON p.event_type = ci.event_type
"""


# --- q320: prefix-cache hit-rate estimator ---------------------------------------


def q320_prefix_cache_estimate(spark, sf_dir):
    """KV prefix-cache economics: how much prompt-prefix reuse exists in
    the corpus at prefix lengths 8/16/32 tokens? Documents sharing an
    exact k-token prefix can reuse one cached KV segment; for each k
    this reports the docs that share a prefix with at least one other
    doc and the reusable token mass (``(group_size − 1)·k`` per prefix
    group) as ppm of all prefix tokens — the number a serving fleet's
    cache sizing and a dedup-adjacent curation pass both read.

    Scale shape: the k-token prefix hash is IN-ROW (md5 over the
    sliced token array — payload text never shuffled); one
    map-side-combined aggregate per k on the 3-row ladder, then a
    3-row rollup. Corpus-linear."""
    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents")).select(
        tokens(F.col("text")).alias("toks")
    )
    lanes = docs.select(
        F.explode(
            F.array(*[F.lit(k) for k in (8, 16, 32)])
        ).alias("k"),
        "toks",
    ).select(
        "k",
        F.md5(
            F.concat_ws(" ", F.slice(F.col("toks"), 1, F.col("k")))
        ).alias("p"),
        (F.least(F.size("toks"), F.col("k"))).cast("long").alias("p_toks"),
    )
    groups = lanes.groupBy("k", "p").agg(
        F.count("*").cast("long").alias("g"),
        F.sum("p_toks").cast("long").alias("toks_in_group"),
        F.max("p_toks").cast("long").alias("one_copy_toks"),
    )
    return groups.groupBy("k").agg(
        F.sum("g").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_prefixes"),
        F.sum(F.when(F.col("g") >= 2, F.col("g")).otherwise(0))
        .cast("long")
        .alias("docs_sharing"),
        F.expr(
            "sum(CASE WHEN g >= 2 THEN toks_in_group - one_copy_toks"
            " ELSE 0 END) * 1000000 div greatest(sum(toks_in_group), 1L)"
        ).alias("reusable_ppm"),
    ).select(
        F.col("k").cast("long").alias("k"),
        "n_docs",
        "n_prefixes",
        "docs_sharing",
        "reusable_ppm",
    )


AUDIT_QUERIES["q320_prefix_cache_estimate"] = q320_prefix_cache_estimate

AUDIT_ORACLES["q320_prefix_cache_estimate"] = f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    lanes AS (
      SELECT kk.k,
             md5(array_to_string(toks[1:kk.k], ' ')) AS p,
             CAST(least(len(toks), kk.k) AS BIGINT) AS p_toks
      FROM t CROSS JOIN (SELECT UNNEST([8, 16, 32]) AS k) kk
    ),
    groups AS (
      SELECT k, p, CAST(COUNT(*) AS BIGINT) AS g,
             CAST(SUM(p_toks) AS BIGINT) AS toks_in_group,
             CAST(MAX(p_toks) AS BIGINT) AS one_copy_toks
      FROM lanes GROUP BY k, p
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(SUM(g) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_prefixes,
           CAST(SUM(CASE WHEN g >= 2 THEN g ELSE 0 END) AS BIGINT)
             AS docs_sharing,
           CAST(SUM(CASE WHEN g >= 2 THEN toks_in_group - one_copy_toks
                    ELSE 0 END) * 1000000
                // greatest(SUM(toks_in_group), 1) AS BIGINT)
             AS reusable_ppm
    FROM groups GROUP BY k
"""


# --- q321: cluster-aware sharding vs hash sharding --------------------------------


def q321_cluster_aware_sharding(spark, sf_dir):
    """Shard-assignment policy audit: hash-sharding scatters near-dup
    cluster members across shards (hurting compression and making
    shard-local dedup incomplete); cluster-aware sharding routes each
    component by its representative's hash (locality by construction)
    at the price of coarser balance. This query prices both on the
    real near-dup graph: per policy, clusters split across shards, the
    split rate in ppm, and the max-shard load (the balance cost) over
    8 shards.

    Scale shape: the pair graph + star-CC closure is the q46/q314
    machinery; both policies are then ONE aggregate each over
    (component, shard) — the routing decision is a hash, never a
    lookup table. Capped input (doc_id < 300, q46 convention)."""
    from adhesive_spark.operators.dedup import (
        ngram_jaccard_pairs,
        portable_hash32,
    )
    from adhesive_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300
    )
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.1)
    comp = connected_components(pairs).withColumnRenamed(
        "node", "doc_id"
    )
    labeled = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
        .select(
            "component",
            (portable_hash32(F.col("doc_id").cast("string")) % 8).alias(
                "hash_shard"
            ),
            (portable_hash32(F.col("component").cast("string")) % 8).alias(
                "cluster_shard"
            ),
        )
        # materialization boundary: BOTH policies read this once —
        # without it each policy() aggregate re-executes the whole
        # pair-graph + closure tail
        .transform(checkpoint_corpus)
    )

    def policy(col, name):
        per_comp = labeled.groupBy("component").agg(
            F.countDistinct(col).alias("n_shards"),
            F.count("*").cast("long").alias("members"),
        )
        load = (
            labeled.groupBy(col)
            .agg(F.count("*").cast("long").alias("l"))
            .agg(F.max("l").cast("long").alias("max_shard_load"))
        )
        return per_comp.agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum((F.col("n_shards") >= 2).cast("long"))
            .cast("long")
            .alias("clusters_split"),
            F.sum("members").cast("long").alias("n_docs"),
        ).crossJoin(F.broadcast(load)).selectExpr(
            f"'{name}' AS policy",
            "n_clusters",
            "clusters_split",
            "clusters_split * 1000000 div n_clusters AS split_ppm",
            "max_shard_load",
            "n_docs",
        )

    return policy("hash_shard", "hash").unionByName(
        policy("cluster_shard", "cluster_aware")
    )


AUDIT_QUERIES["q321_cluster_aware_sharding"] = q321_cluster_aware_sharding


def _sharding_oracle() -> str:
    return f"""
    WITH RECURSIVE {_PAIR_CTES},
    docs AS (SELECT doc_id FROM documents WHERE doc_id < 300),
    labeled AS (
      SELECT d.doc_id,
             COALESCE(comp.component, d.doc_id) AS component
      FROM docs d LEFT JOIN comp ON d.doc_id = comp.node
    ),
    sharded AS (
      SELECT component,
             CAST({_h32("md5(CAST(doc_id AS VARCHAR))")} AS BIGINT) % 8
               AS hash_shard,
             CAST({_h32("md5(CAST(component AS VARCHAR))")} AS BIGINT) % 8
               AS cluster_shard
      FROM labeled
    ),
    hp AS (
      SELECT component, COUNT(DISTINCT hash_shard) AS n_shards,
             CAST(COUNT(*) AS BIGINT) AS members
      FROM sharded GROUP BY component
    ),
    hload AS (
      SELECT CAST(MAX(l) AS BIGINT) AS max_shard_load FROM (
        SELECT hash_shard, COUNT(*) AS l FROM sharded GROUP BY hash_shard)
    ),
    cp AS (
      SELECT component, COUNT(DISTINCT cluster_shard) AS n_shards,
             CAST(COUNT(*) AS BIGINT) AS members
      FROM sharded GROUP BY component
    ),
    cload AS (
      SELECT CAST(MAX(l) AS BIGINT) AS max_shard_load FROM (
        SELECT cluster_shard, COUNT(*) AS l FROM sharded
        GROUP BY cluster_shard)
    )
    SELECT 'hash' AS policy,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(CASE WHEN n_shards >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS clusters_split,
           CAST(SUM(CASE WHEN n_shards >= 2 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS split_ppm,
           (SELECT max_shard_load FROM hload) AS max_shard_load,
           CAST(SUM(members) AS BIGINT) AS n_docs
    FROM hp
    UNION ALL
    SELECT 'cluster_aware',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN n_shards >= 2 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN n_shards >= 2 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT),
           (SELECT max_shard_load FROM cload),
           CAST(SUM(members) AS BIGINT)
    FROM cp
"""


AUDIT_ORACLES["q321_cluster_aware_sharding"] = _sharding_oracle()


# --- q322: retention sweep plan ----------------------------------------------------


def q322_retention_sweep_plan(spark, sf_dir):
    """Data-minimization planner: under 30/90/365-day retention
    policies (anchored at the log's own max timestamp, so the plan is
    deterministic), how many event rows and payload bytes become
    deletable, per policy and event type — the sizing pass a GDPR
    storage-limitation sweep runs BEFORE the actual delete job (q148
    is the propagation of a delete; this is its cost estimate).

    Scale shape: one corpus pass against a broadcast 1-row max-ts
    aggregate and a 3-row policy spine; everything map-side combines
    to the (policy, event_type) grain. No windows, no joins on data."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.length(F.coalesce(F.col("props"), F.lit(""))).cast("long").alias(
            "payload_bytes"
        ),
    )
    anchor = F.broadcast(ev.agg(F.max("ts").alias("max_ts")))
    lanes = ev.crossJoin(anchor).select(
        "event_type",
        "payload_bytes",
        F.explode(
            F.array(*[F.lit(d) for d in (30, 90, 365)])
        ).alias("retention_days"),
        F.col("ts"),
        F.col("max_ts"),
    ).select(
        "retention_days",
        "event_type",
        "payload_bytes",
        (
            F.col("ts")
            < F.col("max_ts") - F.make_dt_interval(F.col("retention_days"))
        )
        .cast("long")
        .alias("expired"),
    )
    return lanes.groupBy("retention_days", "event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("expired").cast("long").alias("deletable_rows"),
        F.sum(F.col("expired") * F.col("payload_bytes"))
        .cast("long")
        .alias("deletable_bytes"),
        F.expr("sum(expired) * 1000000 div count(*)").alias(
            "deletable_ppm"
        ),
    ).select(
        F.col("retention_days").cast("long").alias("retention_days"),
        "event_type",
        "n_rows",
        "deletable_rows",
        "deletable_bytes",
        "deletable_ppm",
    )


AUDIT_QUERIES["q322_retention_sweep_plan"] = q322_retention_sweep_plan

AUDIT_ORACLES["q322_retention_sweep_plan"] = """
    WITH ev AS (
      SELECT event_type, ts,
             CAST(length(COALESCE(props, '')) AS BIGINT) AS payload_bytes
      FROM events
    ),
    anchor AS (SELECT MAX(ts) AS max_ts FROM ev),
    lanes AS (
      SELECT dd.d AS retention_days, event_type, payload_bytes,
             CASE WHEN ts < max_ts - dd.d * INTERVAL 1 DAY
                  THEN 1 ELSE 0 END AS expired
      FROM ev CROSS JOIN anchor
      CROSS JOIN (SELECT UNNEST([30, 90, 365]) AS d) dd
    )
    SELECT CAST(retention_days AS BIGINT) AS retention_days, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(expired) AS BIGINT) AS deletable_rows,
           CAST(SUM(expired * payload_bytes) AS BIGINT) AS deletable_bytes,
           CAST(SUM(expired) * 1000000 // COUNT(*) AS BIGINT)
             AS deletable_ppm
    FROM lanes GROUP BY retention_days, event_type
"""


# --- q323: feature-freshness (staleness) audit -------------------------------------


def q323_feature_staleness_audit(spark, sf_dir):
    """Feature-freshness audit for online/offline consistency: at every
    purchase event, how STALE is the user's most recent prior activity
    (the as-of lookup q270's feature matrix performs)? Staleness is
    bucketed to whole minutes and the p50/p95 buckets are read with the
    nearest-rank-over-bucket-counts trick — so percentiles come from
    the bounded bucket domain, never a corpus sort. The numbers an
    online feature store's TTL and a training/serving skew review are
    set from.

    Scale shape: one per-user lag window (the q270 assembly pass), one
    (type, bucket) aggregate, one rank scan over distinct buckets.
    No joins, no global sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stale = (
        ev.select(
            "event_type",
            "ts",
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .where(
            (F.col("event_type") == "purchase")
            & F.col("prev_ts").isNotNull()
        )
        .selectExpr(
            "(unix_micros(ts) - unix_micros(prev_ts)) div 60000000"
            " AS stale_min"
        )
    )
    buckets = stale.groupBy("stale_min").agg(
        F.count("*").cast("long").alias("cnt")
    )
    # bounded-domain: one row per staleness MINUTE bucket — single-
    # partition WindowExec is intentional and safe
    wb = Window.orderBy("stale_min").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = buckets.select(
        "stale_min", "cnt", F.sum("cnt").over(wb).alias("cum")
    ).crossJoin(F.broadcast(stale.agg(F.count("*").alias("n"))))
    return ranked.agg(
        F.max("n").cast("long").alias("n_lookups"),
        F.min(
            F.when(F.expr("cum >= (n + 1) div 2"), F.col("stale_min"))
        )
        .cast("long")
        .alias("p50_stale_min"),
        F.min(
            F.when(F.expr("cum * 100 >= n * 95"), F.col("stale_min"))
        )
        .cast("long")
        .alias("p95_stale_min"),
        F.max("stale_min").cast("long").alias("max_stale_min"),
    )


AUDIT_QUERIES["q323_feature_staleness_audit"] = q323_feature_staleness_audit

AUDIT_ORACLES["q323_feature_staleness_audit"] = """
    WITH ev AS (
      SELECT event_type, ts,
             LAG(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    stale AS (
      -- pure-integer division: wrapping the diff in floor() makes it
      -- DOUBLE, where DuckDB's // is plain division and the BIGINT
      -- cast ROUNDS (8451.76 -> 8452) — the r8 off-by-one class
      SELECT CAST((epoch_us(ts) - epoch_us(prev_ts)) // 60000000
                  AS BIGINT) AS stale_min
      FROM ev
      WHERE event_type = 'purchase' AND prev_ts IS NOT NULL
    ),
    buckets AS (
      SELECT stale_min, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM stale GROUP BY stale_min
    ),
    ranked AS (
      SELECT stale_min, cnt,
             SUM(cnt) OVER (ORDER BY stale_min ROWS UNBOUNDED PRECEDING)
               AS cum,
             (SELECT COUNT(*) FROM stale) AS n
      FROM buckets
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_lookups,
           CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN stale_min END)
                AS BIGINT) AS p50_stale_min,
           CAST(MIN(CASE WHEN cum * 100 >= n * 95 THEN stale_min END)
                AS BIGINT) AS p95_stale_min,
           CAST(MAX(stale_min) AS BIGINT) AS max_stale_min
    FROM ranked
"""


# --- q324: filter length-bias audit -------------------------------------------------


def q324_filter_length_bias(spark, sf_dir):
    """Filter-bias audit: does the quality gate silently over-filter a
    LENGTH class (the classic heuristic-filter pathology — long docs
    fail punctuation ratios, short docs fail stopword presence)? Docs
    are grouped into power-of-two length octaves and the global-median
    quality gate's keep rate is reported per octave, with the corpus
    keep rate beside it — a skewed row is a biased filter, not a
    quality signal.

    Scale shape: octave is IN-ROW bit arithmetic; the global median
    threshold comes from the distinct-VALUE rank trick (q318's
    machinery — no corpus sort); one (octave) rollup + broadcast
    threshold join. Corpus-linear."""
    from adhesive_spark.operators.text import quality_score, scaled_long
    from adhesive_spark.sources.registry import ensure_parallelism

    by_val = (
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
        .select(
            F.expr(
                "CASE WHEN n_chars <= 1 THEN 1"
                " ELSE CAST(pow(2, length(bin(n_chars - 1))) AS BIGINT) END"
            ).alias("octave"),
            scaled_long(quality_score(F.col("text")), 4).alias("q_s"),
        )
        # one corpus pass: collapse to (octave, q_s) counts and derive
        # EVERYTHING (threshold, per-octave keeps, overall row) from
        # this checkpointed bounded-domain table (the q318 discipline)
        .groupBy("octave", "q_s")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    gv = by_val.groupBy("q_s").agg(F.sum("cnt").cast("long").alias("cnt"))
    # bounded-domain: distinct quality values (replication-invariant)
    # — single-partition WindowExec is intentional and safe
    wg = Window.orderBy(F.col("q_s").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    thr = (
        gv.select("q_s", F.sum("cnt").over(wg).alias("cum"))
        .crossJoin(F.broadcast(by_val.agg(F.sum("cnt").alias("n"))))
        .where(F.expr("cum >= (n + 1) div 2"))
        .agg(F.max("q_s").alias("thr"))
    )
    kept_expr = F.sum(
        F.when(F.col("q_s") >= F.col("thr"), F.col("cnt")).otherwise(0)
    ).cast("long")
    per_octave = (
        by_val.crossJoin(F.broadcast(thr))
        .groupBy("octave")
        .agg(
            F.sum("cnt").cast("long").alias("n_docs"),
            kept_expr.alias("kept"),
        )
        .selectExpr(
            "octave",
            "n_docs",
            "kept",
            "kept * 1000000 div n_docs AS keep_ppm",
        )
    )
    overall = (
        by_val.crossJoin(F.broadcast(thr))
        .agg(
            F.sum("cnt").cast("long").alias("n_docs"),
            kept_expr.alias("kept"),
        )
        .selectExpr(
            "CAST(0 AS BIGINT) AS octave",
            "n_docs",
            "kept",
            "kept * 1000000 div n_docs AS keep_ppm",
        )
    )
    return per_octave.unionByName(overall)


AUDIT_QUERIES["q324_filter_length_bias"] = q324_filter_length_bias


def _length_bias_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT n_chars, text, {_TOKS} AS toks FROM documents
    ),
    scored AS (
      SELECT CASE WHEN n_chars <= 1 THEN 1
                  ELSE CAST(pow(2, length(bin(n_chars - 1))) AS BIGINT)
             END AS octave,
             CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS q_s
      FROM t
    ),
    thr AS (
      SELECT MAX(q_s) AS thr FROM (
        SELECT q_s,
               SUM(cnt) OVER (ORDER BY q_s DESC ROWS UNBOUNDED PRECEDING)
                 AS cum,
               (SELECT COUNT(*) FROM scored) AS n
        FROM (SELECT q_s, COUNT(*) AS cnt FROM scored GROUP BY q_s)
      ) WHERE cum >= (n + 1) // 2
    )
    SELECT octave, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN q_s >= thr THEN 1 ELSE 0 END) AS BIGINT)
             AS kept,
           CAST(SUM(CASE WHEN q_s >= thr THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS keep_ppm
    FROM scored CROSS JOIN thr GROUP BY octave
    UNION ALL
    SELECT CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN q_s >= thr THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN q_s >= thr THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT)
    FROM scored CROSS JOIN thr
"""


AUDIT_ORACLES["q324_filter_length_bias"] = _length_bias_oracle()


# --- q325: multi-probe LSH vs single-probe -------------------------------------------


def q325_multiprobe_lsh(spark, sf_dir):
    """Multi-probe sign-LSH retrieval (Lv et al. 2007) side-by-side
    with the single-probe baseline on the SAME 8-plane signature:
    each query additionally probes every Hamming-1 bucket (one sign
    bit flipped), recovering near-boundary neighbors without more hash
    tables. Output is both modes' top-5 lists — multi-probe's result
    set provably contains at least the single-probe candidates, so its
    ranked sims dominate (pytest-pinned).

    Scale shape: corpus bucketed ONCE (the q39 pass); the probe list is
    a broadcast ≤ 9× the query count; candidate cost tracks probed
    buckets' occupancy, never the corpus. Capped queries (vec_id < 10,
    the q35/q39 convention)."""
    from adhesive_spark.operators.similarity import cosine, lsh_bucket
    from adhesive_spark.sources.registry import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    # ONE bucketing pass serves both modes: single-probe results are
    # exactly the multiprobe candidates whose probe is the original
    # bucket, so the corpus fold (the expensive 8-dot signature) and
    # the bucket join run once, and two windows split the modes.
    cb = ensure_parallelism(emb.where(F.col("vec_id") >= 10), "vec_id").select(
        "vec_id",
        F.col("embedding").alias("cvec"),
        lsh_bucket(F.col("embedding"), 64, n_planes=8).alias("bucket"),
    )
    qb = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        lsh_bucket(F.col("embedding"), 64, n_planes=8).alias("b0"),
    )
    probes = qb.select(
        "query_id",
        "qvec",
        F.explode(
            F.array(
                F.struct(F.col("b0").alias("bucket"), F.lit(1).alias("orig")),
                *[
                    F.struct(
                        F.expr(f"b0 ^ {1 << i}").alias("bucket"),
                        F.lit(0).alias("orig"),
                    )
                    for i in range(8)
                ],
            )
        ).alias("p"),
    ).select("query_id", "qvec", "p.bucket", "p.orig")
    scored = cb.join(F.broadcast(probes), "bucket").select(
        "query_id",
        "vec_id",
        "orig",
        F.round(cosine(F.col("cvec"), F.col("qvec")), 6).alias("sim"),
    ).transform(checkpoint_corpus)

    def topk(df, mode):
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("vec_id")
        )
        return (
            df.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select(
                F.lit(mode).alias("mode"),
                "query_id",
                "vec_id",
                "sim",
                F.col("rank").cast("long").alias("rank"),
            )
        )

    return topk(scored.where(F.col("orig") == 1), "single").unionByName(
        topk(scored, "multiprobe")
    )


AUDIT_QUERIES["q325_multiprobe_lsh"] = q325_multiprobe_lsh


def _multiprobe_oracle() -> str:
    from adhesive_spark.operators.similarity import _hyperplanes

    dim, n_planes, k, seed = 64, 8, 5, 42

    def bucket(vexpr: str) -> str:
        terms = []
        for i, plane in enumerate(_hyperplanes(dim, n_planes, seed)):
            plit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
            dot = (
                f"list_reduce(list_transform(range(1, {dim} + 1), "
                f"j -> ({vexpr})[j] * ({plit})[j]), (x, y) -> x + y)"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
        return " + ".join(terms)

    flips = ", ".join(f"xor(b0, {1 << i})" for i in range(n_planes))
    return f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {bucket('v')} AS bucket FROM emb),
    c AS (SELECT vec_id, v, bucket FROM b WHERE vec_id >= 10),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket AS b0 FROM b
          WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qv, UNNEST([b0, {flips}]) AS bucket FROM q
    ),
    single AS (
      SELECT 'single' AS mode, query_id, vec_id, sim, rank FROM (
        SELECT q.query_id, c.vec_id,
               round(list_cosine_similarity(c.v, q.qv), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(c.v, q.qv), 6) DESC,
                          c.vec_id) AS rank
        FROM c JOIN q ON c.bucket = q.b0
      ) WHERE rank <= {k}
    ),
    multi AS (
      SELECT 'multiprobe' AS mode, query_id, vec_id, sim, rank FROM (
        SELECT p.query_id, c.vec_id,
               round(list_cosine_similarity(c.v, p.qv), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY round(list_cosine_similarity(c.v, p.qv), 6) DESC,
                          c.vec_id) AS rank
        FROM c JOIN probes p ON c.bucket = p.bucket
      ) WHERE rank <= {k}
    )
    SELECT CAST(mode AS VARCHAR) AS mode, query_id, vec_id, sim,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT * FROM single UNION ALL SELECT * FROM multi)
"""


AUDIT_ORACLES["q325_multiprobe_lsh"] = _multiprobe_oracle()


# --- q326: embedding hubness audit ----------------------------------------------------


def q326_hubness_audit(spark, sf_dir):
    """Hubness audit (Radovanović et al. 2010): in high dimensions a
    few "hub" vectors appear in a disproportionate share of other
    points' k-NN lists while many "antihubs" appear in none — a
    retrieval pathology that biases kNN-based dedup, RAG and hard-
    negative mining. Over a capped slice, every vector's exact top-5
    is computed and the k-occurrence histogram (how many vectors
    appear in j lists, j = 0..) is reported with the hub share and
    antihub count — the embedding-QA gate before shipping an index.

    Scale shape: the capped slice makes the all-pairs scoring a
    bounded broadcast scan (the q35 shape); the k-occurrence rollup is
    two keyed aggregates over distinct occurrence counts. The at-scale
    variant runs the same audit over an IVF-pruned candidate set."""
    from adhesive_spark.operators.similarity import cosine

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 200)
        .withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
    )
    a = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    b = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    scored = a.join(F.broadcast(b), F.col("qid") != F.col("cid")).select(
        "qid",
        "cid",
        F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    top5 = scored.withColumn("r", F.row_number().over(w)).where(
        F.col("r") <= 5
    )
    # slice-sized rows, but the subtree is the whole all-pairs scoring
    # + top-5 window; its two consumers (histogram, totals) would each
    # re-run that kernel — materialize once
    occ = (
        emb.select(F.col("vec_id").alias("cid"))
        .join(
            top5.groupBy("cid").agg(F.count("*").cast("long").alias("n_k")),
            "cid",
            "left",
        )
        .select(F.coalesce("n_k", F.lit(0)).cast("long").alias("n_k"))
        .localCheckpoint(eager=True)
    )
    hist = occ.groupBy("n_k").agg(
        F.count("*").cast("long").alias("n_vectors")
    )
    return hist.crossJoin(
        F.broadcast(
            occ.agg(
                F.count("*").alias("n_total"),
                F.max("n_k").alias("max_occ"),
            )
        )
    ).selectExpr(
        "n_k",
        "n_vectors",
        "n_vectors * 1000000 div n_total AS share_ppm",
        "CAST(max_occ AS BIGINT) AS max_occ",
    )


AUDIT_QUERIES["q326_hubness_audit"] = q326_hubness_audit

AUDIT_ORACLES["q326_hubness_audit"] = """
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < 200
    ),
    top5 AS (
      SELECT qid, cid FROM (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(b.v, a.v), 6) DESC,
                          b.vec_id) AS r
        FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
      ) WHERE r <= 5
    ),
    occ AS (
      SELECT e.vec_id AS cid,
             CAST(COALESCE(t.n_k, 0) AS BIGINT) AS n_k
      FROM emb e LEFT JOIN (
        SELECT cid, COUNT(*) AS n_k FROM top5 GROUP BY cid
      ) t ON e.vec_id = t.cid
    ),
    hist AS (
      SELECT n_k, CAST(COUNT(*) AS BIGINT) AS n_vectors
      FROM occ GROUP BY n_k
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(MAX(n_k) AS BIGINT) AS max_occ
      FROM occ
    )
    SELECT n_k, n_vectors,
           n_vectors * 1000000 // n_total AS share_ppm,
           max_occ
    FROM hist CROSS JOIN tot
"""


# --- q327: HLL precision ladder --------------------------------------------------------


def q327_hll_precision_ladder(spark, sf_dir):
    """HLL precision tuning curve: the q241 register sketch re-run at
    p = 4/5/6 (16/32/64 registers) over the SAME 60-bit hash stream,
    with the RAW Flajolet estimator's realized error vs the exact
    distinct count per row — the memory/accuracy knob (state = 2^p
    rows) a 100 TB cardinality profile is sized by, measured rather
    than read off the 1.04/√m formula (no small-range correction is
    applied, so the ladder also shows the raw estimator's low-range
    bias directly). Alpha constants per m in ppm (Flajolet et al.
    2007: 0.673 / 0.697 / 0.7213/(1+1.079/64)).

    Scale shape: ONE corpus pass fans each key's hash into the 3-row
    p-ladder in-row; the shuffle payload is ≤ 16+32+64 = 112
    (p, bucket, max-rho) rows regardless of input; the exact distinct
    (the audit's ground truth) is the only full-key shuffle."""
    from adhesive_spark.operators.sketches import hash60

    alpha_ppm = {4: 673000, 5: 697000, 6: 709340}
    li = load_table(spark, sf_dir, "lineitem").select(
        hash60(F.col("l_orderkey")).alias("h"),
        F.col("l_orderkey").alias("key"),
    )
    lanes = li.select(
        "h",
        F.explode(F.array(*[F.lit(p) for p in (4, 5, 6)])).alias("p"),
    ).selectExpr(
        "p",
        "pmod(h, shiftleft(1, p)) AS bucket",
        # rho = (60 - p + 1) - bitlen(h >> p); rem == 0 -> full scale
        "CASE WHEN shiftright(h, p) = 0 THEN CAST(60 - p + 1 AS BIGINT)"
        " ELSE CAST(60 - p + 1 AS BIGINT)"
        "      - length(bin(shiftright(h, p))) END AS rho",
    )
    regs = lanes.groupBy("p", "bucket").agg(F.max("rho").alias("m_j"))
    per_p = regs.groupBy("p").agg(
        F.count("*").cast("long").alias("nonempty"),
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(60 - p + 1 - m_j AS INT))")
        )
        .cast("long")
        .alias("s_nonempty"),
    ).selectExpr(
        "p",
        "CAST(shiftleft(1, p) AS BIGINT) AS m",
        "nonempty",
        "s_nonempty + (shiftleft(1, p) - nonempty)"
        " * shiftleft(CAST(1 AS BIGINT), CAST(60 - p + 1 AS INT)) AS s_scaled",
    ).selectExpr(
        "p",
        "m",
        "nonempty",
        "CAST(((CAST(CASE p WHEN 4 THEN 673000 WHEN 5 THEN 697000"
        " ELSE 709340 END AS DECIMAL(38,0))"
        " * m * m * shiftleft(CAST(1 AS BIGINT), CAST(60 - p + 1 AS INT)))"
        " div s_scaled) div 1000000 AS BIGINT) AS est_hll",
    )
    exact = li.agg(F.countDistinct("key").cast("long").alias("exact"))
    return per_p.crossJoin(F.broadcast(exact)).selectExpr(
        "CAST(p AS BIGINT) AS p",
        "m",
        "nonempty",
        "est_hll",
        "exact",
        "abs(est_hll - exact) * 1000000 div exact AS err_ppm",
    )


AUDIT_QUERIES["q327_hll_precision_ladder"] = q327_hll_precision_ladder

AUDIT_ORACLES["q327_hll_precision_ladder"] = """
    WITH h AS (
      SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h,
             l_orderkey AS key
      FROM lineitem
    ),
    lanes AS (
      SELECT pp.p, h.h % (1 << pp.p) AS bucket,
             CASE WHEN (h.h >> pp.p) = 0 THEN CAST(60 - pp.p + 1 AS BIGINT)
                  ELSE CAST(60 - pp.p + 1 AS BIGINT)
                       - length(bin(h.h >> pp.p)) END AS rho
      FROM h CROSS JOIN (SELECT UNNEST([4, 5, 6]) AS p) pp
    ),
    regs AS (
      SELECT p, bucket, MAX(rho) AS m_j FROM lanes GROUP BY p, bucket
    ),
    per_p AS (
      SELECT p, CAST(1 << p AS BIGINT) AS m,
             CAST(COUNT(*) AS BIGINT) AS nonempty,
             CAST(SUM(CAST(1 AS BIGINT) << CAST(60 - p + 1 - m_j AS INT))
                  AS BIGINT)
               + ((1 << p) - COUNT(*))
                 * (CAST(1 AS BIGINT) << CAST(60 - p + 1 AS INT))
               AS s_scaled
      FROM regs GROUP BY p
    ),
    est AS (
      SELECT p, m, nonempty,
             CAST(((CAST(CASE p WHEN 4 THEN 673000 WHEN 5 THEN 697000
                         ELSE 709340 END AS HUGEINT)
                    * m * m * (CAST(1 AS BIGINT) << CAST(60 - p + 1 AS INT)))
                   // s_scaled) // 1000000 AS BIGINT) AS est_hll
      FROM per_p
    ),
    ex AS (SELECT CAST(COUNT(DISTINCT key) AS BIGINT) AS exact FROM h)
    SELECT CAST(p AS BIGINT) AS p, m, nonempty, est_hll, exact,
           abs(est_hll - exact) * 1000000 // exact AS err_ppm
    FROM est CROSS JOIN ex
"""


# --- q328: Count-Min geometry ladder -----------------------------------------------


_CMS_CONFIGS = ((2, 16), (4, 16), (4, 64))  # (depth, width)


def q328_cms_geometry_ladder(spark, sf_dir):
    """Count-Min geometry tuning curve: the same user-id stream
    sketched at (depth, width) = (2,16) / (4,16) / (4,64), with each
    config's REALIZED overcount vs the exact per-key counts — depth
    buys collision-minimum robustness, width buys fewer collisions;
    this measures both on the data instead of reading ε = e/w off the
    paper (the q327 discipline applied to the frequency sketch).
    Overcount is reported as total and max ppm of the true mass.

    Scale shape: ONE stream pass fans each row into Σdepths = 10 lane
    rows in-row; the counter state is Σ d·w = 352 rows total — the
    broadcastable-summary contract at any stream size; probing joins
    the tiny counter table back to the 150-key exact counts."""
    from adhesive_spark.operators.sketches import cms_col

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key")
    )
    # ONE stream pass (the q242 weighted-sketch discipline): the exact
    # per-key counts are materialized once, and the counter table is
    # built WEIGHTED from them — a lane's position depends only on the
    # key, so Σ true_cnt per (cfg, r, c) is integer-identical to
    # counting the raw stream, and the 10-way md5 lane fan-out now runs
    # over the 150-key table instead of every stream row (twice).
    exact = (
        ev.groupBy("key")
        .agg(F.count("*").cast("long").alias("true_cnt"))
        .localCheckpoint(eager=True)
    )

    lane_structs = []
    for ci, (d, w) in enumerate(_CMS_CONFIGS):
        for r in range(d):
            lane_structs.append(
                F.struct(
                    F.lit(ci).cast("long").alias("cfg"),
                    F.lit(r).cast("long").alias("r"),
                    (
                        F.conv(
                            F.substring(
                                F.md5(F.concat(F.lit(f"cms{r}"), F.col("key"))),
                                1,
                                8,
                            ),
                            16,
                            10,
                        ).cast("long")
                        % F.lit(w)
                    ).alias("c"),
                )
            )
    counters = (
        exact.select(
            "true_cnt", F.explode(F.array(*lane_structs)).alias("l")
        )
        .groupBy("l.cfg", "l.r", "l.c")
        .agg(F.sum("true_cnt").cast("long").alias("cnt"))
    )
    probes = exact.select(
        "key", "true_cnt", F.explode(F.array(*lane_structs)).alias("l")
    ).select("key", "true_cnt", "l.cfg", "l.r", "l.c")
    est = (
        probes.join(F.broadcast(counters), ["cfg", "r", "c"])
        .groupBy("cfg", "key", "true_cnt")
        .agg(F.min("cnt").cast("long").alias("est"))
    )
    cfg_dims = F.array(
        *[
            F.struct(
                F.lit(ci).cast("long").alias("cfg"),
                F.lit(d).cast("long").alias("depth"),
                F.lit(w).cast("long").alias("width"),
            )
            for ci, (d, w) in enumerate(_CMS_CONFIGS)
        ]
    )
    dims = spark.range(1).select(F.explode(cfg_dims).alias("d")).select(
        "d.cfg", "d.depth", "d.width"
    )
    return (
        est.groupBy("cfg")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("true_cnt").cast("long").alias("true_total"),
            F.sum(F.col("est") - F.col("true_cnt"))
            .cast("long")
            .alias("overcount_total"),
            F.expr(
                "max((est - true_cnt) * 1000000 div greatest(true_cnt, 1L))"
            ).alias("max_overcount_ppm"),
        )
        .join(F.broadcast(dims), "cfg")
        .selectExpr(
            "depth",
            "width",
            "n_keys",
            "true_total",
            "overcount_total",
            "overcount_total * 1000000 div true_total AS overcount_ppm",
            "max_overcount_ppm",
        )
    )


AUDIT_QUERIES["q328_cms_geometry_ladder"] = q328_cms_geometry_ladder


def _cms_ladder_oracle() -> str:
    lane_rows = []
    for ci, (d, w) in enumerate(_CMS_CONFIGS):
        for r in range(d):
            lane_rows.append(f"({ci}, {r}, {w})")
    dims = ", ".join(
        f"({ci}, {d}, {w})" for ci, (d, w) in enumerate(_CMS_CONFIGS)
    )
    return f"""
    WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
    exact AS (
      SELECT key, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM ev GROUP BY key
    ),
    lanes(cfg, r, w) AS (VALUES {", ".join(lane_rows)}),
    counters AS (
      SELECT l.cfg, l.r,
             CAST(('0x' || substr(md5('cms' || CAST(l.r AS VARCHAR)
                                       || ev.key), 1, 8)) AS BIGINT)
               % l.w AS c,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ev CROSS JOIN lanes l
      GROUP BY 1, 2, 3
    ),
    est AS (
      SELECT p.cfg, e.key, e.true_cnt, MIN(co.cnt) AS est
      FROM exact e
      CROSS JOIN lanes p
      JOIN counters co
        ON co.cfg = p.cfg AND co.r = p.r
       AND co.c = CAST(('0x' || substr(md5('cms' || CAST(p.r AS VARCHAR)
                                            || e.key), 1, 8)) AS BIGINT)
                  % p.w
      GROUP BY 1, 2, 3
    ),
    dims(cfg, depth, width) AS (VALUES {dims})
    SELECT CAST(d.depth AS BIGINT) AS depth,
           CAST(d.width AS BIGINT) AS width,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(true_cnt) AS BIGINT) AS true_total,
           CAST(SUM(est - true_cnt) AS BIGINT) AS overcount_total,
           CAST(SUM(est - true_cnt) * 1000000 // SUM(true_cnt) AS BIGINT)
             AS overcount_ppm,
           CAST(MAX((est - true_cnt) * 1000000
                    // greatest(true_cnt, 1)) AS BIGINT)
             AS max_overcount_ppm
    FROM est JOIN dims d ON est.cfg = d.cfg
    GROUP BY d.depth, d.width
"""


AUDIT_ORACLES["q328_cms_geometry_ladder"] = _cms_ladder_oracle()


# --- q329: A/B sample-size planner --------------------------------------------------


def q329_ab_sample_size_planner(spark, sf_dir):
    """Experiment sizing from measured variance (Lehr's rule,
    n ≈ 16·σ²/δ² per arm at α=.05 / 80% power): for each event type,
    the exact sample variance of value-in-cents and the observations
    needed PER ARM to detect absolute lifts of 10/50/100 cents — the
    pre-launch planner an A/B platform prints before any traffic is
    committed. Exact integer moments (n·Σx² − (Σx)² carried in
    DECIMAL(38,0)/HUGEINT, division LAST), needed-n as a ceiling
    division — bit-reproducible, so the plan is auditable.

    Scale shape: one map-side-combined moments pass, then a 3-row
    delta spine over the per-type aggregates. No windows, no joins on
    data."""
    from adhesive_spark.operators.text import scaled_long

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", scaled_long(F.col("value"), 2).alias("c")
    )
    mom = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_obs"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    with_var = mom.selectExpr(
        "event_type",
        "n_obs",
        # exact sample variance in cents^2 (integer part): the n*s2
        # product overflows BIGINT on large logs -> DECIMAL headroom
        "CAST((CAST(n_obs AS DECIMAL(38,0)) * s2"
        " - CAST(s1 AS DECIMAL(38,0)) * s1)"
        " div (CAST(n_obs AS DECIMAL(38,0)) * (n_obs - 1))"
        " AS BIGINT) AS var_c2",
    )
    return with_var.select(
        "event_type",
        "n_obs",
        "var_c2",
        F.explode(
            F.array(*[F.lit(d) for d in (10, 50, 100)])
        ).alias("delta_c"),
    ).selectExpr(
        "event_type",
        "n_obs",
        "var_c2",
        "CAST(delta_c AS BIGINT) AS delta_c",
        "(16 * var_c2 + delta_c * delta_c - 1)"
        " div (delta_c * delta_c) AS needed_per_arm",
    )


AUDIT_QUERIES["q329_ab_sample_size_planner"] = q329_ab_sample_size_planner

AUDIT_ORACLES["q329_ab_sample_size_planner"] = """
    WITH ev AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
      FROM events
    ),
    mom AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM ev GROUP BY event_type
    ),
    wv AS (
      SELECT event_type, n_obs,
             CAST((CAST(n_obs AS HUGEINT) * s2
                   - CAST(s1 AS HUGEINT) * s1)
                  // (CAST(n_obs AS HUGEINT) * (n_obs - 1))
                  AS BIGINT) AS var_c2
      FROM mom
    )
    SELECT event_type, n_obs, var_c2,
           CAST(dd.d AS BIGINT) AS delta_c,
           (16 * var_c2 + dd.d * dd.d - 1) // (dd.d * dd.d)
             AS needed_per_arm
    FROM wv CROSS JOIN (SELECT UNNEST([10, 50, 100]) AS d) dd
"""


# --- q330: IVF nprobe recall ladder --------------------------------------------------


def q330_ivf_nprobe_ladder(spark, sf_dir):
    """IVF recall-vs-IO tuning curve: recall@5 against the exact
    brute-force truth at n_probe = 1/2/4/8 over the q49 deterministic
    16-list index — THE knob an ANN service tunes (probe fraction =
    IO cost; recall is what it buys). q152 measures one point; this is
    the whole curve, and recall is non-decreasing in n_probe by
    construction (candidate supersets — pytest-pinned).

    Scale shape: the index assignment, the query→centroid ranking AND
    the candidate scoring run ONCE (each candidate carries its probe
    rank, since a corpus vector lives in exactly one list); each ladder
    rung is a filter + top-5 window over that one checkpointed scored
    set. Brute-force truth is one bounded broadcast scan (q35)."""
    from adhesive_spark.operators.similarity import (
        build_ivf_index,
        cosine,
        knn_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 10)
    centroids, assigned = build_ivf_index(corpus, n_lists=16)
    qc = queries.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        F.col("embedding").alias("qvec"),
        "centroid_id",
        F.round(cosine(F.col("embedding"), F.col("cvec")), 6).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id")
    )
    probes = qc.withColumn("rq", F.row_number().over(wq)).where(
        F.col("rq") <= 8
    ).select("query_id", "qvec", "centroid_id", "rq")
    cand = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .select(
            "query_id",
            "vec_id",
            "rq",
            F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias(
                "sim"
            ),
        )
        .transform(checkpoint_corpus)
    )
    brute = knn_bruteforce(corpus, queries, k=5).select(
        "query_id", "vec_id"
    ).localCheckpoint(eager=True)
    n_q = F.broadcast(brute.agg(F.count("*").alias("n_truth")))

    out = None
    for np_ in (1, 2, 4, 8):
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("vec_id")
        )
        top = (
            cand.where(F.col("rq") <= np_)
            .withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= 5)
            .select("query_id", "vec_id")
        )
        row = (
            brute.join(F.broadcast(top), ["query_id", "vec_id"], "left_semi")
            .agg(F.count("*").cast("long").alias("hits"))
            .crossJoin(n_q)
            .selectExpr(
                f"CAST({np_} AS BIGINT) AS n_probe",
                "CAST(n_truth AS BIGINT) AS n_truth",
                "hits",
                "hits * 1000000 div n_truth AS recall_ppm",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


AUDIT_QUERIES["q330_ivf_nprobe_ladder"] = q330_ivf_nprobe_ladder

AUDIT_ORACLES["q330_ivf_nprobe_ladder"] = """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    corpus AS (SELECT vec_id, v FROM emb WHERE vec_id >= 10),
    queries AS (SELECT vec_id AS query_id, v AS qv FROM emb
                WHERE vec_id < 10),
    centroids AS (
      SELECT vec_id AS centroid_id, v AS cv FROM corpus
      ORDER BY vec_id LIMIT 16
    ),
    assigned AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT c.vec_id, c.v, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY round(list_cosine_similarity(c.v, t.cv), 6) DESC,
                          t.centroid_id) AS r
        FROM corpus c CROSS JOIN centroids t
      ) WHERE r = 1
    ),
    probes AS (
      SELECT query_id, qv, centroid_id, rq FROM (
        SELECT q.query_id, q.qv, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, t.cv), 6) DESC,
                          t.centroid_id) AS rq
        FROM queries q CROSS JOIN centroids t
      ) WHERE rq <= 8
    ),
    cand AS (
      SELECT p.query_id, a.vec_id, p.rq,
             round(list_cosine_similarity(a.v, p.qv), 6) AS sim
      FROM assigned a JOIN probes p USING (centroid_id)
    ),
    brute AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(c.v, q.qv), 6) DESC,
                          c.vec_id) AS rank
        FROM queries q CROSS JOIN corpus c
      ) WHERE rank <= 5
    ),
    lanes AS (SELECT UNNEST([1, 2, 4, 8]) AS n_probe),
    tops AS (
      SELECT l.n_probe, query_id, vec_id FROM lanes l, LATERAL (
        SELECT query_id, vec_id FROM (
          SELECT c.query_id, c.vec_id,
                 ROW_NUMBER() OVER (PARTITION BY c.query_id
                   ORDER BY c.sim DESC, c.vec_id) AS r
          FROM cand c WHERE c.rq <= l.n_probe
        ) WHERE r <= 5
      )
    )
    SELECT CAST(l.n_probe AS BIGINT) AS n_probe,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM brute) AS n_truth,
           CAST(COUNT(t.vec_id) AS BIGINT) AS hits,
           CAST(COUNT(t.vec_id) * 1000000
                // (SELECT COUNT(*) FROM brute) AS BIGINT) AS recall_ppm
    FROM lanes l
    LEFT JOIN (
      SELECT tp.n_probe, b.query_id, b.vec_id, tp.vec_id AS hit
      FROM brute b JOIN tops tp
        ON b.query_id = tp.query_id AND b.vec_id = tp.vec_id
    ) t ON l.n_probe = t.n_probe
    GROUP BY l.n_probe
"""


# --- q331: embedding isotropy audit ----------------------------------------------------


def q331_isotropy_audit(spark, sf_dir):
    """Embedding isotropy audit (Ethayarajh 2019 / Mu & Viswanath
    2018): anisotropic spaces — where all vectors share a dominant
    direction — degrade cosine-based retrieval and dedup. Two exact
    diagnostics with NO pairwise join: the mean pairwise cosine over
    ALL n² pairs via the closed form ``(‖Σv‖² − Σ‖v‖²) / (n(n−1))``
    (one per-dimension sum pass replaces half a billion dot products
    at 100 TB), and the top dimension's share of total variance.
    Float work is strictly IN-ROW (normalize, then quantize each
    component to 1e6 fixed point), so every cross-row sum is integer —
    no order-dependent float accumulation anywhere.

    Scale shape: one posexplode pass → a 64-row per-dimension
    aggregate; everything after is arithmetic on 64 rows. The exact
    all-pairs statistic at corpus-linear cost."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # in-row normalize then quantize: norm is a per-row fold (fixed
    # order), so the quantized longs are engine-identical
    quant = emb.select(
        F.expr(
            "transform(v, x -> CAST(round(x / sqrt(aggregate(v,"
            " CAST(0.0 AS DOUBLE), (a, y) -> a + y * y)) * 1000000, 0)"
            " AS BIGINT))"
        ).alias("q")
    )
    per_dim = quant.select(
        F.posexplode("q").alias("d", "x")
    ).groupBy("d").agg(
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
        F.count("*").cast("long").alias("n"),
    )
    return per_dim.agg(
        F.max("n").cast("long").alias("n_vecs"),
        # mean pairwise dot of unit vectors, ppm: (sum_d S_d^2 - sum_d
        # Q_d) / (n(n-1)) where components are 1e6-scaled -> divide by
        # 1e12, report ppm -> net div by 1e6
        F.expr(
            "CAST((CAST(sum(CAST(s1 AS DECIMAL(38,0)) * s1) AS DECIMAL(38,0))"
            " - sum(s2))"
            " div (CAST(max(n) AS DECIMAL(38,0)) * (max(n) - 1) * 1000000)"
            " AS BIGINT)"
        ).alias("mean_pair_cos_ppm"),
        # top dimension's share of total variance (n*s2 - s1^2 per dim)
        F.expr(
            "CAST(CAST(max(CAST(n AS DECIMAL(38,0)) * s2"
            " - CAST(s1 AS DECIMAL(38,0)) * s1) AS DECIMAL(38,0))"
            " * 1000000"
            " div sum(CAST(n AS DECIMAL(38,0)) * s2"
            " - CAST(s1 AS DECIMAL(38,0)) * s1) AS BIGINT)"
        ).alias("top_dim_var_ppm"),
        F.count("*").cast("long").alias("n_dims"),
    )


AUDIT_QUERIES["q331_isotropy_audit"] = q331_isotropy_audit

AUDIT_ORACLES["q331_isotropy_audit"] = """
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
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_vecs,
           CAST((SUM(CAST(s1 AS HUGEINT) * s1) - SUM(CAST(s2 AS HUGEINT)))
                // (CAST(MAX(n) AS HUGEINT) * (MAX(n) - 1) * 1000000)
                AS BIGINT) AS mean_pair_cos_ppm,
           CAST(MAX(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
                * 1000000
                // SUM(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
                AS BIGINT) AS top_dim_var_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_dims
    FROM per_dim
"""


# --- q332: index storage-cost ledger -----------------------------------------------


def q332_index_cost_ledger(spark, sf_dir):
    """Index storage planner: the bytes each similarity/dedup structure
    in this engine would occupy at the CURRENT corpus size, priced
    from exact row counts and the structures' real geometries —
    MinHash signatures (64 perms × 8 B/doc), LSH band table (16
    bands × 16 B/doc), IVF assignment (vec + 4 B list id) vs PQ codes
    (8 × 1 B/vec + a 256-row ADC table), register HLL (64 rows flat),
    CMS (4×16 flat), and the inverted index (one posting per
    token occurrence, 12 B) — the capacity-planning sheet an index
    rollout is budgeted from, with a broadcastable flag (≤ 10 MB) per
    structure.

    Scale shape: three metadata-cheap aggregates (doc count, vec
    count, token-occurrence count) broadcast onto a literal structure
    spine; the ledger itself is O(1)."""
    from adhesive_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    # doc count and token mass come from ONE documents aggregate — the
    # old plan ran two separate full scans for the two scalars
    doc_stats = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("n_toks"),
    )
    n_vecs = (
        load_table(spark, sf_dir, "embeddings")
        .agg(F.count("*").cast("long").alias("n_vecs"))
    )
    base = doc_stats.crossJoin(F.broadcast(n_vecs))
    rows = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("minhash_signatures").alias("structure"),
                    F.col("n_docs").alias("n_rows"),
                    (F.col("n_docs") * 64 * 8).alias("bytes_est"),
                ),
                F.struct(
                    F.lit("lsh_band_table").alias("structure"),
                    (F.col("n_docs") * 16).alias("n_rows"),
                    (F.col("n_docs") * 16 * 16).alias("bytes_est"),
                ),
                F.struct(
                    F.lit("ivf_assignment").alias("structure"),
                    F.col("n_vecs").alias("n_rows"),
                    (F.col("n_vecs") * (64 * 8 + 4)).alias("bytes_est"),
                ),
                F.struct(
                    F.lit("pq_codes").alias("structure"),
                    F.col("n_vecs").alias("n_rows"),
                    (F.col("n_vecs") * 8 + 256 * 8 * 8).alias("bytes_est"),
                ),
                F.struct(
                    F.lit("hll_registers").alias("structure"),
                    F.lit(64).cast("long").alias("n_rows"),
                    F.lit(64 * 16).cast("long").alias("bytes_est"),
                ),
                F.struct(
                    F.lit("cms_counters").alias("structure"),
                    F.lit(64).cast("long").alias("n_rows"),
                    F.lit(64 * 24).cast("long").alias("bytes_est"),
                ),
                F.struct(
                    F.lit("inverted_index").alias("structure"),
                    F.col("n_toks").alias("n_rows"),
                    (F.col("n_toks") * 12).alias("bytes_est"),
                ),
            )
        ).alias("s")
    ).select("s.structure", "s.n_rows", "s.bytes_est")
    return rows.selectExpr(
        "structure",
        "n_rows",
        "bytes_est",
        "CASE WHEN bytes_est <= 10485760 THEN 1 ELSE 0 END"
        " AS broadcastable",
    )


AUDIT_QUERIES["q332_index_cost_ledger"] = q332_index_cost_ledger

AUDIT_ORACLES["q332_index_cost_ledger"] = f"""
    WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    nt AS (SELECT CAST(SUM(len({_TOKS})) AS BIGINT) AS n_toks
           FROM documents),
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings),
    ledger AS (
      SELECT 'minhash_signatures' AS structure, n_docs AS n_rows,
             n_docs * 64 * 8 AS bytes_est FROM nd
      UNION ALL
      SELECT 'lsh_band_table', n_docs * 16, n_docs * 16 * 16 FROM nd
      UNION ALL
      SELECT 'ivf_assignment', n_vecs, n_vecs * (64 * 8 + 4) FROM nv
      UNION ALL
      SELECT 'pq_codes', n_vecs, n_vecs * 8 + 256 * 8 * 8 FROM nv
      UNION ALL
      SELECT 'hll_registers', 64, 64 * 16
      UNION ALL
      SELECT 'cms_counters', 64, 64 * 24
      UNION ALL
      SELECT 'inverted_index', n_toks, n_toks * 12 FROM nt
    )
    SELECT structure, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(bytes_est AS BIGINT) AS bytes_est,
           CAST(CASE WHEN bytes_est <= 10485760 THEN 1 ELSE 0 END
                AS BIGINT) AS broadcastable
    FROM ledger
"""


# --- q333: ingest-order dedup pressure ------------------------------------------------


def q333_ingest_dedup_pressure(spark, sf_dir):
    """Dedup pressure over INGEST ORDER (doc_id as arrival proxy): per
    arrival decile, the share of documents whose exact fingerprint
    already arrived earlier — rising pressure says the crawl is
    re-visiting (dedup before storage pays off increasingly); flat says
    duplication is endemic, not temporal. The incremental-dedup twin of
    q129's snapshot diff.

    Scale shape: one fingerprint aggregate (min arrival id per
    fingerprint — map-side combined), broadcast max-id for the
    closed-form decile, one rollup. No windows, no self-joins."""
    from adhesive_spark.operators.text import fingerprint
    from adhesive_spark.sources.registry import ensure_parallelism

    # ONE fingerprint pass: the (doc_id, fp) grain used to be evaluated
    # per consumer (first-arrival aggregate, max-id broadcast, and the
    # probe side of the join) — three scan+md5 kernels for one corpus.
    # The checkpoint stores the reduced 2-column projection, not text.
    docs = (
        ensure_parallelism(load_table(spark, sf_dir, "documents"))
        .select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .transform(checkpoint_corpus)
    )
    first = docs.groupBy("fp").agg(F.min("doc_id").alias("first_id"))
    mx = F.broadcast(docs.agg(F.max("doc_id").alias("max_id")))
    return (
        docs.join(first, "fp")
        .crossJoin(mx)
        .selectExpr(
            "least(9L, doc_id * 10 div (max_id + 1)) AS decile",
            "CASE WHEN doc_id > first_id THEN 1 ELSE 0 END AS is_dup",
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("is_dup").cast("long").alias("n_dups"),
            F.expr("sum(is_dup) * 1000000 div count(*)").alias("dup_ppm"),
        )
    )


AUDIT_QUERIES["q333_ingest_dedup_pressure"] = q333_ingest_dedup_pressure

AUDIT_ORACLES["q333_ingest_dedup_pressure"] = f"""
    WITH d AS (
      SELECT doc_id, md5({_NORM}) AS fp FROM documents
    ),
    first AS (SELECT fp, MIN(doc_id) AS first_id FROM d GROUP BY fp),
    mx AS (SELECT MAX(doc_id) AS max_id FROM d)
    SELECT least(9, d.doc_id * 10 // (mx.max_id + 1)) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.doc_id > f.first_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dups,
           CAST(SUM(CASE WHEN d.doc_id > f.first_id THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm
    FROM d JOIN first f USING (fp) CROSS JOIN mx
    GROUP BY 1
"""


# --- q334: MinHash permutation-budget ladder -------------------------------------------


def q334_minhash_perm_ladder(spark, sf_dir):
    """Signature-size tuning curve: how accurate is the MinHash
    Jaccard ESTIMATE (matching positions / p) at p = 16/32/64
    permutations, measured as mean absolute error in ppm against the
    exact n-gram Jaccard on the real near-dup pairs? The permutation
    coefficients are generated sequentially, so the 16- and 32-perm
    signatures are PREFIXES of the 64-perm one — one signature pass
    serves the whole ladder (the q327/q328 measure-the-knob
    discipline applied to signature memory: 8·p bytes/doc).

    Scale shape: one signature pass (the q37 machinery, checkpointed)
    + the capped exact-pair set (doc_id < 200, the q33 convention);
    per-pair match counting is an IN-ROW zip over the two signature
    arrays — no per-permutation explode."""
    from adhesive_spark.operators.dedup import (
        minhash_base_and_bands,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200
    )
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.2
    ).select(
        "id_a",
        "id_b",
        F.expr("CAST(round(jaccard * 1000000, 0) AS BIGINT)").alias("j_ppm"),
    )
    base, _bands = minhash_base_and_bands(docs, "text", "doc_id")
    sigs = base.select("id", "sig")
    joined = (
        pairs.join(
            F.broadcast(sigs.withColumnsRenamed({"id": "id_a", "sig": "sig_a"})),
            "id_a",
        )
        .join(
            F.broadcast(sigs.withColumnsRenamed({"id": "id_b", "sig": "sig_b"})),
            "id_b",
        )
    )
    lanes = joined.select(
        "j_ppm",
        F.explode(
            F.array(*[F.lit(p) for p in (16, 32, 64)])
        ).alias("p"),
        F.expr(
            "size(filter(zip_with(sig_a, sig_b, (a, b) -> a = b),"
            " x -> x))"
        ).cast("long").alias("m64"),
        F.expr(
            "size(filter(zip_with(slice(sig_a, 1, 32),"
            " slice(sig_b, 1, 32), (a, b) -> a = b), x -> x))"
        ).cast("long").alias("m32"),
        F.expr(
            "size(filter(zip_with(slice(sig_a, 1, 16),"
            " slice(sig_b, 1, 16), (a, b) -> a = b), x -> x))"
        ).cast("long").alias("m16"),
    ).selectExpr(
        "p",
        "j_ppm",
        "CASE p WHEN 16 THEN m16 WHEN 32 THEN m32 ELSE m64 END"
        " * 1000000 div p AS est_ppm",
    )
    return lanes.groupBy("p").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("sum(abs(est_ppm - j_ppm)) div count(*)").alias(
            "mean_abs_err_ppm"
        ),
        F.max(F.abs(F.col("est_ppm") - F.col("j_ppm")))
        .cast("long")
        .alias("max_abs_err_ppm"),
    ).selectExpr(
        "CAST(p AS BIGINT) AS p",
        "n_pairs",
        "mean_abs_err_ppm",
        "max_abs_err_ppm",
    )


AUDIT_QUERIES["q334_minhash_perm_ladder"] = q334_minhash_perm_ladder


def _perm_ladder_oracle() -> str:
    from adhesive_spark.operators.dedup import _MERSENNE, _perm_coeffs
    coeffs = _perm_coeffs(64, 42)
    coeff_rows = ", ".join(
        f"({i}, {a}::BIGINT, {b}::BIGINT)" for i, (a, b) in enumerate(coeffs)
    )
    h32 = (
        f"({_byte_from_hex('h', 1)} * 16777216 "
        f"+ {_byte_from_hex('h', 2)} * 65536 "
        f"+ {_byte_from_hex('h', 3)} * 256 "
        f"+ {_byte_from_hex('h', 4)})"
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks
      FROM documents WHERE doc_id < 200
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
    cmn AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM xf a JOIN xf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b,
             CAST(round(round(n_common / (sa.n_sh + sb.n_sh - n_common), 4)
                        * 1000000, 0) AS BIGINT) AS j_ppm
      FROM cmn
      JOIN sz sa ON cmn.id_a = sa.doc_id
      JOIN sz sb ON cmn.id_b = sb.doc_id
      WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.2
    ),
    hx AS (SELECT doc_id, md5(unnest(grams)) AS h FROM g),
    bhr AS (SELECT doc_id, {h32} % {_MERSENNE} AS base FROM hx),
    co(i, a, b) AS (VALUES {coeff_rows}),
    sig AS (
      SELECT bhr.doc_id, co.i,
             MIN((bhr.base * co.a + co.b) % {_MERSENNE}) AS s
      FROM bhr CROSS JOIN co
      GROUP BY bhr.doc_id, co.i
    ),
    matches AS (
      SELECT p.id_a, p.id_b, p.j_ppm,
             SUM(CASE WHEN sa.i < 16 AND sa.s = sb.s THEN 1 ELSE 0 END)
               AS m16,
             SUM(CASE WHEN sa.i < 32 AND sa.s = sb.s THEN 1 ELSE 0 END)
               AS m32,
             SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS m64
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b AND sb.i = sa.i
      GROUP BY 1, 2, 3
    ),
    lanes AS (
      SELECT pp.p, j_ppm,
             (CASE pp.p WHEN 16 THEN m16 WHEN 32 THEN m32 ELSE m64 END)
               * 1000000 // pp.p AS est_ppm
      FROM matches CROSS JOIN (SELECT UNNEST([16, 32, 64]) AS p) pp
    )
    SELECT CAST(p AS BIGINT) AS p,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(abs(est_ppm - j_ppm)) // COUNT(*) AS BIGINT)
             AS mean_abs_err_ppm,
           CAST(MAX(abs(est_ppm - j_ppm)) AS BIGINT) AS max_abs_err_ppm
    FROM lanes GROUP BY p
"""


AUDIT_ORACLES["q334_minhash_perm_ladder"] = _perm_ladder_oracle()
