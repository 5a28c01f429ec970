"""Model-evaluation & measurement queries (q256+): exact ROC-AUC,
classifier-calibration audit, a bit-level runtime bloom join-prefilter
with a measured false-positive rate, CUSUM change-point detection and
segmentation, grid-density clustering, decision-stump split gain,
l-diversity, link prediction, seasonality/Benford/SRM audits, a
deterministic negative-sampling plan, and the vocabulary coverage
curve.

These are the metrics a training-data pipeline publishes about its own
quality classifiers and runtime filters — computed ON the cluster, in
exact integer arithmetic (ppm fixed point, portable md5 hashing, every
division last) so the driver's type-strict value hash matches DuckDB
bit-for-bit. No floats anywhere in an output column.

Reference parity note: the reference engine (milenkovicm/adhesive,
src/fusion.rs) delegates its relational surface to DataFusion and
ships none of this; this module is SURVEY §2.3 extension surface for
the 100 TB pipeline.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from adhesive_spark.sources.registry import checkpoint_corpus, load_table

EVAL_QUERIES: dict = {}
EVAL_ORACLES: dict = {}

# The binary-classifier eval fixture shared by q256/q257: purchase
# events are the positives, clicks the negatives, and the (blind)
# score is the event value in exact cents — a deliberately weak
# classifier so AUC sits near 500 000 ppm and calibration gaps are
# non-trivial in both directions.
_LABELED = """
    SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
    FROM events WHERE event_type IN ('purchase', 'click')
"""


def _labeled_scores(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.where(F.col("event_type").isin("purchase", "click")).select(
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("long")
        .alias("label"),
    )


# --- q256: exact ROC-AUC (Mann-Whitney with tie correction) -------------------


def auc_ppm(labeled):
    """Exact ROC-AUC in ppm from any (cents, label) DataFrame — the
    distributive core of q256, reusable on generated data (the
    hypothesis property test drives it against the pairwise
    definition). One per-distinct-score aggregate + a tiny ordered
    window + one reduction."""
    per_score = labeled.groupBy("cents").agg(
        F.sum("label").cast("long").alias("p_s"),
        (F.count("*") - F.sum("label")).cast("long").alias("n_s"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_score.select(
        "p_s",
        "n_s",
        (F.sum("n_s").over(w) - F.col("n_s")).alias("n_lt"),
    )
    return cum.agg(
        F.sum("p_s").cast("long").alias("n_pos"),
        F.sum("n_s").cast("long").alias("n_neg"),
        F.expr(
            "CAST(CAST(500000 AS DECIMAL(38,0))"
            " * sum(p_s * (2 * n_lt + n_s))"
            " div (sum(p_s) * sum(n_s)) AS BIGINT)"
        ).alias("auc_ppm"),
    )


def q256_roc_auc(spark, sf_dir):
    """EXACT ROC-AUC in ppm via the rank-sum identity, ties handled by
    the trapezoid (average-rank) rule — the metric every quality
    classifier in the curation stack is gated on, computed without a
    single float: per distinct score s, with p_s positives, n_s
    negatives and N_lt(s) negatives strictly below,

        2U = sum_s p_s * (2 * N_lt(s) + n_s)        (integer)
        auc_ppm = 500000 * 2U div (P * N)

    Scale shape: the corpus collapses to one row PER DISTINCT SCORE in
    a single map-side-combining aggregate; the ordered cumulative sum
    and the final reduction run on that ~6 k-row table (the
    unpartitioned window is over the aggregate, never the corpus). At
    100 TB with a 1e6-distinct-score classifier this is one shuffle +
    a 1 MB window — vs the full global sort a naive rank-based AUC
    would need.
    """
    return auc_ppm(_labeled_scores(spark, sf_dir))


EVAL_QUERIES["q256_roc_auc"] = q256_roc_auc

EVAL_ORACLES["q256_roc_auc"] = f"""
    WITH labeled AS ({_LABELED}),
    per_score AS (
      SELECT cents, CAST(SUM(label) AS BIGINT) AS p_s,
             CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_s
      FROM labeled GROUP BY cents
    ),
    cum AS (
      SELECT p_s, n_s,
             SUM(n_s) OVER (ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) - n_s AS n_lt
      FROM per_score
    )
    SELECT CAST(SUM(p_s) AS BIGINT) AS n_pos,
           CAST(SUM(n_s) AS BIGINT) AS n_neg,
           CAST(CAST(500000 AS HUGEINT)
                * CAST(SUM(p_s * (2 * n_lt + n_s)) AS HUGEINT)
                // (CAST(SUM(p_s) AS HUGEINT) * CAST(SUM(n_s) AS HUGEINT))
                AS BIGINT) AS auc_ppm
    FROM cum
"""


# --- q257: calibration (reliability) bins ------------------------------------


def q257_calibration_bins(spark, sf_dir):
    """Classifier-calibration audit (reliability diagram): scores are
    min-max normalized to a predicted-probability proxy in ppm, bucketed
    into 10 fixed-width bins, and each bin reports predicted-vs-observed
    positive rate and its absolute gap — the per-bin terms of expected
    calibration error (ECE), all in integer ppm (division last, so both
    engines truncate identically).

    Scale shape: one 1-row min/max aggregate broadcast back over the
    stream (no second scan shuffle), then one 10-group aggregate. The
    bin width uses ``span + 1`` so the max score lands in bin 9 without
    a clamp expression.
    """
    labeled = _labeled_scores(spark, sf_dir)
    minmax = labeled.agg(
        F.min("cents").alias("min_c"), F.max("cents").alias("max_c")
    )
    binned = labeled.crossJoin(F.broadcast(minmax)).select(
        "label",
        F.expr(
            "(cents - min_c) * 1000000 div (max_c - min_c + 1)"
        ).alias("pred_ppm"),
    )
    return (
        binned.select("label", "pred_ppm", F.expr("pred_ppm div 100000").alias("bin"))
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("label").cast("long").alias("n_pos"),
            F.expr("CAST(sum(pred_ppm) div count(*) AS BIGINT)").alias(
                "mean_pred_ppm"
            ),
            F.expr("CAST(sum(label) * 1000000 div count(*) AS BIGINT)").alias(
                "obs_pos_ppm"
            ),
        )
        .withColumn(
            "gap_ppm", F.abs(F.col("mean_pred_ppm") - F.col("obs_pos_ppm"))
        )
        .orderBy("bin")
    )


EVAL_QUERIES["q257_calibration_bins"] = q257_calibration_bins

EVAL_ORACLES["q257_calibration_bins"] = f"""
    WITH labeled AS ({_LABELED}),
    mm AS (SELECT MIN(cents) AS min_c, MAX(cents) AS max_c FROM labeled),
    binned AS (
      SELECT label,
             (cents - min_c) * 1000000 // (max_c - min_c + 1) AS pred_ppm
      FROM labeled CROSS JOIN mm
    )
    SELECT pred_ppm // 100000 AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           CAST(SUM(pred_ppm) // COUNT(*) AS BIGINT) AS mean_pred_ppm,
           CAST(SUM(label) * 1000000 // COUNT(*) AS BIGINT) AS obs_pos_ppm,
           CAST(abs(SUM(pred_ppm) // COUNT(*)
                    - SUM(label) * 1000000 // COUNT(*)) AS BIGINT) AS gap_ppm
    FROM binned GROUP BY 1 ORDER BY 1
"""


# --- q258: runtime bloom join-prefilter, rebuilt at bit level -----------------

_BLOOM_WORDS = 1024        # 1024 x 62-bit words = 63488 bits (62 dodges the
_BLOOM_BITS = 62 * 1024    # sign bit in both engines; q255 policy) — an
_BLOOM_K = 3               # ~8 KB broadcast, sized so the sf0.01 build
#                            (~2.9 k keys) loads it ~13 % and the realized
#                            FP rate is meaningfully small, while sf0.1
#                            visibly degrades it — the audit SHOWS the
#                            undersizing instead of hiding it


def q258_bloom_join_prefilter(spark, sf_dir):
    """Runtime bloom join-prefilter REBUILT at bit level with a
    measured false-positive rate: the urgent-order keys (the selective
    build side of a shuffle join) are hashed k=3 times into a
    63488-bit / 1024-word filter (one map-side-combining ``bit_or``
    aggregate); every distinct probe-side key tests its 3 bits against
    the broadcast words, and the audit reports exactly what Spark's own
    ``might_contain`` injection (tests/test_plans.py::
    test_runtime_bloom_filter_join_reduction) never shows you — the
    realized FP rate and a machine-checked no-false-negative bit.

    Measured load/FP curve (the audit working as designed — the
    realized rate tracks the (1−e^{-kn/m})^k theory and the
    no-false-negative bit stays 1 throughout):

    ====== ========= ============== =========
    sf     members   bits set       fp_ppm
    ====== ========= ============== =========
    0.001  266       817 / 63488    0
    0.01   2 930     8 324 / 63488  2 793
    0.1    29 541    48 136 / 63488 436 416
    ====== ========= ============== =========

    Scale shape: the filter is ≤1024 rows regardless of build cardinality
    (merges by bit_or across executors); the probe is one broadcast
    join + one per-key aggregate — rows failing the filter would never
    leave the map side of the gated join. Everything md5-portable, so
    DuckDB reproduces every bit.
    """
    build = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_orderkey").alias("bkey"))

    def positions(key_col: str):
        # k salted md5 hashes -> array of bit positions in [0, 1984)
        return F.array(
            *[
                F.expr(
                    f"conv(substring(md5(concat('{i}', ':',"
                    f" CAST({key_col} AS STRING))), 1, 8), 16, 10)"
                    f" % {_BLOOM_BITS}"
                ).cast("long")
                for i in range(_BLOOM_K)
            ]
        )

    bloom = (
        build.select(F.explode(positions("bkey")).alias("pos"))
        .select(
            F.expr("pos div 62").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 62 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bit)").alias("w"))
        # ≤1024 rows by construction; materialized ONCE so the probe
        # broadcast and the bits_set audit don't each re-run the build
        # scan + 3×md5 explode + bit_or aggregate (the filter build is
        # the pattern's whole point: pay it once)
        .localCheckpoint(eager=True)
    )

    probe = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("pkey"))
        .distinct()
    )
    tested = (
        probe.select("pkey", F.explode(positions("pkey")).alias("pos"))
        .select(
            "pkey",
            F.expr("pos div 62").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 62 AS INT))").alias(
                "mask"
            ),
        )
        .join(F.broadcast(bloom), "word_idx", "left")
        .groupBy("pkey")
        .agg(
            F.sum(
                (F.coalesce(F.col("w"), F.lit(0)).bitwiseAND(F.col("mask")) != 0)
                .cast("long")
            ).alias("hits")
        )
    )
    flagged = tested.join(
        F.broadcast(build.withColumn("is_member", F.lit(1))),
        tested.pkey == F.col("bkey"),
        "left",
    ).select(
        (F.col("hits") == _BLOOM_K).cast("long").alias("pass"),
        F.coalesce(F.col("is_member"), F.lit(0)).alias("member"),
    )
    bits = bloom.agg(
        F.sum(F.expr("bit_count(w)")).cast("long").alias("bits_set")
    )
    return (
        flagged.agg(
            F.count("*").cast("long").alias("n_probe"),
            F.sum("member").cast("long").alias("n_member"),
            F.sum("pass").cast("long").alias("n_pass"),
            F.sum(F.expr("CASE WHEN pass = 1 AND member = 0 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_false_pos"),
            F.min(
                F.when(F.col("member") == 1, F.col("pass")).otherwise(1)
            )
            .cast("long")
            .alias("no_false_negative"),
        )
        .crossJoin(F.broadcast(bits))
        .select(
            F.lit(_BLOOM_BITS).cast("long").alias("m_bits"),
            "bits_set",
            "n_probe",
            "n_member",
            "n_pass",
            "n_false_pos",
            F.expr(
                "CAST(n_false_pos * 1000000 div (n_probe - n_member)"
                " AS BIGINT)"
            ).alias("fp_ppm"),
            "no_false_negative",
        )
    )


EVAL_QUERIES["q258_bloom_join_prefilter"] = q258_bloom_join_prefilter

_BLOOM_POS_SQL = """
      SELECT {key} AS key, CAST(
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
                                    CAST({key} AS VARCHAR)), 1, 8))
                    AS BIGINT) % {bits} AS BIGINT) AS pos
      FROM {src} CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS i)
"""

EVAL_ORACLES["q258_bloom_join_prefilter"] = f"""
    WITH build AS (
      SELECT o_orderkey AS bkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    bpos AS ({_BLOOM_POS_SQL.format(key="bkey", bits=_BLOOM_BITS, src="build")}),
    bloom AS (
      SELECT pos // 62 AS word_idx,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 62 AS INT))
                  AS BIGINT) AS w
      FROM bpos GROUP BY 1
    ),
    probe AS (SELECT DISTINCT l_orderkey AS pkey FROM lineitem),
    ppos AS ({_BLOOM_POS_SQL.format(key="pkey", bits=_BLOOM_BITS, src="probe")}),
    tested AS (
      SELECT p.key AS pkey,
             CAST(SUM(CASE WHEN (COALESCE(b.w, 0)
                                 & (CAST(1 AS BIGINT)
                                    << CAST(p.pos % 62 AS INT))) <> 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS hits
      FROM ppos p LEFT JOIN bloom b ON p.pos // 62 = b.word_idx
      GROUP BY p.key
    ),
    flagged AS (
      SELECT CASE WHEN t.hits = {_BLOOM_K} THEN 1 ELSE 0 END AS pass,
             CASE WHEN m.bkey IS NULL THEN 0 ELSE 1 END AS member
      FROM tested t LEFT JOIN build m ON t.pkey = m.bkey
    ),
    bits AS (SELECT CAST(SUM(bit_count(w)) AS BIGINT) AS bits_set FROM bloom)
    SELECT CAST({_BLOOM_BITS} AS BIGINT) AS m_bits, bits.bits_set,
           CAST(COUNT(*) AS BIGINT) AS n_probe,
           CAST(SUM(member) AS BIGINT) AS n_member,
           CAST(SUM(pass) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN pass = 1 AND member = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN pass = 1 AND member = 0 THEN 1 ELSE 0 END)
                * 1000000
                // (COUNT(*) - SUM(member)) AS BIGINT) AS fp_ppm,
           CAST(MIN(CASE WHEN member = 1 THEN pass ELSE 1 END) AS BIGINT)
             AS no_false_negative
    FROM flagged CROSS JOIN bits
    GROUP BY bits.bits_set
"""


# --- q259: CUSUM change-point detection ---------------------------------------


def q259_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection on daily purchase revenue: the
    running sum of (day revenue − global mean) peaks in magnitude at
    the most likely level-shift boundary — the classic sequential
    drift detector behind ingest-volume and data-drift alarms,
    complementary to the distributional drift monitor (q150). Exact
    cents end-to-end; days are epoch-day integers (q251 policy — no
    engine calendar functions).

    Scale shape: the fact stream collapses to one row per day in one
    aggregate; the mean broadcast, the ordered cumulative sum, and the
    top-5 all run on that ~30-row series. Output: the 5 largest
    |CUSUM| days (tie-broken by day) — the alarm shortlist.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    daily = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    ).groupBy("day").agg(F.sum("cents").cast("long").alias("rev"))
    mean = daily.agg(
        F.expr("CAST(sum(rev) div count(*) AS BIGINT)").alias("mean_rev")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cusum = (
        daily.crossJoin(F.broadcast(mean))
        .select(
            "day",
            "rev",
            F.sum(F.col("rev") - F.col("mean_rev")).over(w).alias(
                "cusum_cents"
            ),
        )
    )
    return cusum.orderBy(
        F.abs(F.col("cusum_cents")).desc(), F.col("day")
    ).limit(5)


EVAL_QUERIES["q259_cusum_changepoint"] = q259_cusum_changepoint

EVAL_ORACLES["q259_cusum_changepoint"] = """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ),
    mean AS (
      SELECT CAST(SUM(rev) // COUNT(*) AS BIGINT) AS mean_rev FROM daily
    ),
    cusum AS (
      SELECT day, rev,
             CAST(SUM(rev - mean_rev) OVER (ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum_cents
      FROM daily CROSS JOIN mean
    )
    SELECT day, rev, cusum_cents
    FROM cusum ORDER BY abs(cusum_cents) DESC, day LIMIT 5
"""


# --- q260: grid-density clustering (DBSCAN without the pair term) ------------

_GRID_CELL_MILLI = 25    # 0.025-wide cells in milli units — sized so the
_GRID_MINPTS = 3         # synthetic embedding blobs resolve into MULTIPLE
#                          clusters at every test SF (one giant component
#                          would demonstrate nothing)


def q260_grid_density_clusters(spark, sf_dir):
    """Grid-density clustering of the embedding space — the DBSCAN
    shape with NO pair term: points quantize to 0.025-wide grid cells
    (exact milli integers, q72 policy), cells with >= 3 points are
    core, 8-neighbor-adjacent core cells union into clusters via
    ``graph.connected_components``, and the output is
    the top-10 clusters by contained points. Embedding-space density
    clusters are how a curation stack finds over-represented content
    regions WITHOUT an O(n²) similarity join.

    Scale shape: one (cell) aggregate collapses the corpus; everything
    after — the 9-offset neighbor join, the component closure, the
    final rollup — runs on the CELL table (bounded by the grid, not
    the corpus). Self-edges keep isolated core cells as their own
    singleton clusters. The +1e6 shift keeps cell ids positive so both
    engines' integer division agrees (no floor-vs-truncate hazard).
    """
    from adhesive_spark.operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.expr(
            "(CAST(ROUND(CAST(element_at(embedding, 1) AS DOUBLE) * 1000, 0)"
            f" AS BIGINT) + 1000000) div {_GRID_CELL_MILLI}"
        ).alias("cx"),
        F.expr(
            "(CAST(ROUND(CAST(element_at(embedding, 2) AS DOUBLE) * 1000, 0)"
            f" AS BIGINT) + 1000000) div {_GRID_CELL_MILLI}"
        ).alias("cy"),
    )
    core = (
        pts.groupBy("cx", "cy")
        .agg(F.count("*").cast("long").alias("n"))
        .where(F.col("n") >= _GRID_MINPTS)
        .withColumn("cell_id", F.col("cx") * 100000 + F.col("cy"))
        .localCheckpoint(eager=True)  # feeds edges twice + the rollup
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probes = core.select(
        F.col("cell_id").alias("id_a"),
        F.explode(offsets).alias("o"),
        "cx",
        "cy",
    ).select(
        "id_a",
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    edges = probes.join(
        core.select(
            F.col("cx").alias("nx"),
            F.col("cy").alias("ny"),
            F.col("cell_id").alias("id_b"),
        ),
        ["nx", "ny"],
    ).select("id_a", "id_b")
    comps = connected_components(edges, "id_a", "id_b")
    return (
        comps.join(
            core.select(F.col("cell_id").alias("node"), "n"), "node"
        )
        .groupBy(F.col("component").alias("cluster_rep"))
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum("n").cast("long").alias("n_points"),
        )
        .orderBy(F.col("n_points").desc(), F.col("cluster_rep"))
        .limit(10)
    )


EVAL_QUERIES["q260_grid_density_clusters"] = q260_grid_density_clusters

EVAL_ORACLES["q260_grid_density_clusters"] = f"""
    WITH RECURSIVE cells AS (
      SELECT (CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000, 0) AS BIGINT)
              + 1000000) // {_GRID_CELL_MILLI} AS cx,
             (CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 1000, 0) AS BIGINT)
              + 1000000) // {_GRID_CELL_MILLI} AS cy,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings GROUP BY 1, 2
    ),
    core AS (
      SELECT cx, cy, n, cx * 100000 + cy AS cell_id
      FROM cells WHERE n >= {_GRID_MINPTS}
    ),
    e AS (
      SELECT a.cell_id AS a, b.cell_id AS b
      FROM core a
      CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS dx) dxs
      CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS dy) dys
      JOIN core b ON b.cx = a.cx + dxs.dx AND b.cy = a.cy + dys.dy
    ),
    reach(node, r) AS (
      SELECT a, a FROM e
      UNION
      SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.b
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
    SELECT comp.component AS cluster_rep,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(core.n) AS BIGINT) AS n_points
    FROM comp JOIN core ON comp.node = core.cell_id
    GROUP BY 1
    ORDER BY n_points DESC, cluster_rep
    LIMIT 10
"""


# --- q261: decision-stump split gain ------------------------------------------


def q261_stump_split_gain(spark, sf_dir):
    """Gini split-gain ladder for a decision stump — the
    feature-selection primitive behind every quality-classifier
    feature audit: at each decile threshold of the score, the exact
    Gini impurity decrease of splitting purchase-vs-click there, in
    integer ppm. Thresholds come from the same per-distinct-score
    cumulative table as q256 (cum counts are monotone in the score, so
    ``min cents with cum_t >= rank`` IS the decile boundary — no NTILE
    fences). The gain numerator (~1e17 at sf0.1) is carried in
    DECIMAL(38,0)/HUGEINT with every division last (q252 policy), so
    both engines produce the identical integer.

    Scale shape: one per-score aggregate + a tiny ordered window (the
    q256 shape), then 9-row broadcast joins — the corpus is touched
    once.
    """
    per = (
        _labeled_scores(spark, sf_dir)
        .groupBy("cents")
        .agg(
            F.sum("label").cast("long").alias("p_s"),
            (F.count("*") - F.sum("label")).cast("long").alias("n_s"),
        )
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "cents",
        F.sum("p_s").over(w).alias("p_l"),
        F.sum("n_s").over(w).alias("n_l"),
    ).localCheckpoint(eager=True)  # feeds the spine probe + the join-back
    tot = cum.agg(
        F.max(F.col("p_l")).alias("p_tot"), F.max(F.col("n_l")).alias("n_tot")
    )
    spine = spark.range(1, 10).select(F.col("id").alias("decile"))
    th = (
        cum.crossJoin(F.broadcast(spine.crossJoin(tot)))
        .where(
            F.col("p_l") + F.col("n_l")
            >= F.expr("(p_tot + n_tot) * decile div 10")
        )
        .groupBy("decile")
        .agg(F.min("cents").alias("threshold_cents"))
    )
    sides = (
        th.join(cum, th.threshold_cents == cum.cents)
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "threshold_cents",
            "p_l",
            "n_l",
            (F.col("p_tot") - F.col("p_l")).alias("p_r"),
            (F.col("n_tot") - F.col("n_l")).alias("n_r"),
            "p_tot",
            "n_tot",
        )
        .where((F.col("p_l") + F.col("n_l") > 0) & (F.col("p_r") + F.col("n_r") > 0))
    )
    return sides.select(
        "decile",
        "threshold_cents",
        (F.col("p_l") + F.col("n_l")).alias("n_left"),
        "p_l",
        F.expr(
            "CAST((CAST(2000000 AS DECIMAL(38,0)) * ("
            "  CAST(p_tot * n_tot AS DECIMAL(38,0))"
            "    * (p_l + n_l) * (p_r + n_r)"
            "  - CAST(p_l * n_l AS DECIMAL(38,0))"
            "    * (p_tot + n_tot) * (p_r + n_r)"
            "  - CAST(p_r * n_r AS DECIMAL(38,0))"
            "    * (p_tot + n_tot) * (p_l + n_l)))"
            " div (CAST(p_tot + n_tot AS DECIMAL(38,0))"
            "      * (p_tot + n_tot) * (p_l + n_l) * (p_r + n_r))"
            " AS BIGINT)"
        ).alias("gain_ppm"),
    ).orderBy("decile")


EVAL_QUERIES["q261_stump_split_gain"] = q261_stump_split_gain

EVAL_ORACLES["q261_stump_split_gain"] = f"""
    WITH labeled AS ({_LABELED}),
    per AS (
      SELECT cents, CAST(SUM(label) AS BIGINT) AS p_s,
             CAST(COUNT(*) - SUM(label) AS BIGINT) AS n_s
      FROM labeled GROUP BY cents
    ),
    cum AS (
      SELECT cents,
             SUM(p_s) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS p_l,
             SUM(n_s) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS n_l
      FROM per
    ),
    tot AS (SELECT MAX(p_l) AS p_tot, MAX(n_l) AS n_tot FROM cum),
    th AS (
      SELECT d.decile, MIN(cum.cents) AS threshold_cents
      FROM cum
      CROSS JOIN (SELECT UNNEST([1,2,3,4,5,6,7,8,9]) AS decile) d
      CROSS JOIN tot
      WHERE cum.p_l + cum.n_l >= (tot.p_tot + tot.n_tot) * d.decile // 10
      GROUP BY d.decile
    ),
    sides AS (
      SELECT th.decile, th.threshold_cents, cum.p_l, cum.n_l,
             tot.p_tot - cum.p_l AS p_r, tot.n_tot - cum.n_l AS n_r,
             tot.p_tot, tot.n_tot
      FROM th JOIN cum ON th.threshold_cents = cum.cents
      CROSS JOIN tot
      WHERE cum.p_l + cum.n_l > 0
        AND (tot.p_tot - cum.p_l) + (tot.n_tot - cum.n_l) > 0
    )
    SELECT decile, threshold_cents,
           CAST(p_l + n_l AS BIGINT) AS n_left,
           CAST(p_l AS BIGINT) AS p_l,
           CAST((CAST(2000000 AS HUGEINT) * (
                   CAST(p_tot * n_tot AS HUGEINT)
                     * (p_l + n_l) * (p_r + n_r)
                 - CAST(p_l * n_l AS HUGEINT)
                     * (p_tot + n_tot) * (p_r + n_r)
                 - CAST(p_r * n_r AS HUGEINT)
                     * (p_tot + n_tot) * (p_l + n_l)))
                // (CAST(p_tot + n_tot AS HUGEINT)
                    * (p_tot + n_tot) * (p_l + n_l) * (p_r + n_r))
                AS BIGINT) AS gain_ppm
    FROM sides ORDER BY decile
"""


# --- q262: l-diversity privacy audit ------------------------------------------


def q262_l_diversity(spark, sf_dir):
    """l-diversity audit — the second privacy gate after k-anonymity
    (q179): a quasi-identifier class can be large enough to pass k yet
    still leak if every member shares the SAME sensitive value (the
    homogeneity attack). Classes are (nation, market segment); the
    sensitive attribute is the account-balance band ($2.5k buckets,
    exact cents). Output: one row per distinct diversity level l —
    how many classes have exactly l distinct sensitive values, their
    row mass, and the smallest class size among them; release gate is
    "no rows with l = 1".

    Scale shape: two hash aggregates (class×band, then class), then a
    ~dozen-row rollup — the corpus is touched once. The band uses
    ``(cents + 100000000) div 250000`` so negative balances stay in
    truncation-safe positive territory in both engines.
    """
    cust = load_table(spark, sf_dir, "customer")
    classes = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.expr(
                "(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) + 100000000)"
                " div 250000"
            ).alias("band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(F.count("*").cast("long").alias("n_band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("l"),
            F.sum("n_band").cast("long").alias("k"),
        )
    )
    return (
        classes.groupBy("l")
        .agg(
            F.count("*").cast("long").alias("n_classes"),
            F.sum("k").cast("long").alias("n_rows"),
            F.min("k").cast("long").alias("min_k"),
        )
        .orderBy("l")
    )


EVAL_QUERIES["q262_l_diversity"] = q262_l_diversity

EVAL_ORACLES["q262_l_diversity"] = """
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS l,
             CAST(SUM(n_band) AS BIGINT) AS k
      FROM (
        SELECT c_nationkey, c_mktsegment,
               (CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) + 100000000)
                 // 250000 AS band,
               CAST(COUNT(*) AS BIGINT) AS n_band
        FROM customer GROUP BY 1, 2, 3
      ) GROUP BY 1, 2
    )
    SELECT l, CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(MIN(k) AS BIGINT) AS min_k
    FROM classes GROUP BY l ORDER BY l
"""


# --- q263: link prediction on the supplier-part affiliation graph -------------

_LP_MAX_PART_DEG = 40   # df-cap: parts supplied by more suppliers than
#                         this are hubs that predict nothing (the
#                         rare-shingle blocking policy from dedup)


def q263_link_prediction(spark, sf_dir):
    """Link prediction on the supplier–part affiliation graph: for
    supplier pairs sharing at least 2 parts, three classic scores —
    common-neighbor count, neighborhood Jaccard (ppm), and a
    discretized Adamic-Adar (Σ 1e6 div floor(log2 deg(part)) — the
    hub-discount in exact integers, no float log). The candidate join
    goes THROUGH parts (bounded by per-part supplier fanout, df-capped
    at 40 like rare-shingle blocking) — never supplier × supplier.

    Scale shape: one distinct edge aggregate, one per-part pair join
    bounded by fanout², two broadcast degree joins; top-20 via
    TakeOrdered. The same plan shape as the dedup candidate generator,
    pointed at graph structure instead of shingles.
    """
    edges = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    return link_prediction_report(edges)


def link_prediction_report(edges):
    """The q263 core over a caller-supplied ``(s, p)`` edge set — split
    out so tools/stress.py can ladder the fanout²-bounded pair join on
    replicated graphs without going through a parquet table.

    The checkpoint is pinned to SERIALIZED storage (r12,
    ``MEMORY_AND_DISK`` — which in PySpark is the serialized level):
    at the deserialized default the eager localCheckpoint held the
    edge set as JVM objects, and Spark's disk-block read path
    re-inflates evicted blocks as deserialized VALUES
    (`maybeCacheDiskValuesInMemory`), so the 10 000× rung (590 M
    edges) OOMed a 48 g heap on the WORKING SET, not the compute.
    Serialized blocks are ~order-of-magnitude smaller, overflow to
    disk, and re-cache as BYTES (bounded) — while keeping the
    one-materialization boundary the three consumers share. The two
    rejected designs are both measured: dropping the checkpoint is
    2.5× slower at bench scale (the triple `distinct` subtree does NOT
    runtime-reuse its exchange), DISK_ONLY costs ~1 s of disk
    round-trip per bench rep."""
    edges = edges.transform(checkpoint_corpus)
    part_deg = edges.groupBy("p").agg(
        F.count("*").cast("long").alias("pd")
    )
    small = part_deg.where(F.col("pd") <= _LP_MAX_PART_DEG)
    # one row per supplier — the same bytes the two F.broadcast
    # consumers below already collect; materialized once so the degree
    # aggregate scans the edge set once instead of once per broadcast
    supp_deg = edges.groupBy("s").agg(
        F.count("*").cast("long").alias("sd")
    ).transform(checkpoint_corpus)
    # hub parts dropped BEFORE pair generation; merge-pinned (r12):
    # part_deg is corpus-scaled (one row per part), so it is never
    # contractually broadcastable — yet its rows are narrow and
    # replication-compressible enough that AQE's compressed-size
    # heuristic elected broadcast at the 10 000× rung (20 M rows) and
    # the broadcast COLLECT blew spark.driver.maxResultSize. Same
    # hazard class as the probe_minhash_index pin (see ROUND_NOTES
    # r12); at honest production sizes this join was never going to
    # broadcast, so the pin costs only a tiny-input sort.
    e = edges.join(small.hint("merge"), "p")
    pairs = (
        e.alias("a")
        .join(e.alias("b"), "p")
        .where(F.col("a.s") < F.col("b.s"))
        .groupBy(
            F.col("a.s").alias("s1"), F.col("b.s").alias("s2")
        )
        .agg(
            F.count("*").cast("long").alias("common"),
            F.sum(
                F.expr("1000000 div (length(bin(a.pd)) - 1)")
            )
            .cast("long")
            .alias("adamic_adar_ppm"),
        )
        .where(F.col("common") >= 2)
    )
    return (
        pairs.join(
            F.broadcast(supp_deg.withColumnRenamed("s", "s1").withColumnRenamed("sd", "d1")),
            "s1",
        )
        .join(
            F.broadcast(supp_deg.withColumnRenamed("s", "s2").withColumnRenamed("sd", "d2")),
            "s2",
        )
        .select(
            "s1",
            "s2",
            "common",
            F.expr(
                "CAST(common * 1000000 div (d1 + d2 - common) AS BIGINT)"
            ).alias("jaccard_ppm"),
            "adamic_adar_ppm",
        )
        .orderBy(
            F.col("jaccard_ppm").desc(), F.col("s1"), F.col("s2")
        )
        .limit(20)
    )


EVAL_QUERIES["q263_link_prediction"] = q263_link_prediction

EVAL_ORACLES["q263_link_prediction"] = f"""
    WITH edges AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    part_deg AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS pd FROM edges GROUP BY p
    ),
    supp_deg AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS sd FROM edges GROUP BY s
    ),
    e AS (
      SELECT edges.s, edges.p, part_deg.pd
      FROM edges JOIN part_deg USING (p)
      WHERE part_deg.pd <= {_LP_MAX_PART_DEG}
    ),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2,
             CAST(COUNT(*) AS BIGINT) AS common,
             CAST(SUM(1000000 // (length(bin(a.pd)) - 1)) AS BIGINT)
               AS adamic_adar_ppm
      FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
    SELECT p.s1, p.s2, p.common,
           CAST(p.common * 1000000 // (d1.sd + d2.sd - p.common)
                AS BIGINT) AS jaccard_ppm,
           p.adamic_adar_ppm
    FROM pairs p
    JOIN supp_deg d1 ON p.s1 = d1.s
    JOIN supp_deg d2 ON p.s2 = d2.s
    ORDER BY jaccard_ppm DESC, p.s1, p.s2
    LIMIT 20
"""


# --- q264: day-of-week seasonality profile -------------------------------------


def q264_dow_seasonality(spark, sf_dir):
    """Day-of-week seasonality profile of purchase revenue: per weekday,
    the revenue mass and its seasonal index in ppm — mean-revenue-per-
    day-of-that-weekday over the all-days mean, computed as one
    division-last integer expression (``sum_dow * n_days_total * 1e6
    div (n_days_dow * total)``). The profile is what a forecaster
    multiplies out before fitting trend (the q251 seasonal-naive
    baseline assumes exactly this structure — here it is measured).
    Weekday uses the epoch-day ``(day + 3) % 7`` convention (q252
    policy — day 0 = 1970-01-01 was a Thursday; no engine calendar
    functions).

    Scale shape: the fact stream collapses to one row per DAY in one
    aggregate; the weekday rollup and the 1-row totals broadcast run on
    that ~30-row table. Output: 7 rows.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    daily = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    ).groupBy("day").agg(F.sum("cents").cast("long").alias("rev"))
    daily = daily.localCheckpoint(eager=True)  # feeds rollup + totals
    tot = daily.agg(
        F.sum("rev").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_days_total"),
    )
    return (
        daily.select(F.expr("(day + 3) % 7").alias("dow"), "rev")
        .groupBy("dow")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("rev").cast("long").alias("rev_cents"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_days",
            "rev_cents",
            F.expr(
                "CAST(CAST(rev_cents AS DECIMAL(38,0)) * n_days_total"
                " * 1000000 div (n_days * total) AS BIGINT)"
            ).alias("index_ppm"),
        )
        .orderBy("dow")
    )


EVAL_QUERIES["q264_dow_seasonality"] = q264_dow_seasonality

EVAL_ORACLES["q264_dow_seasonality"] = """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(rev) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_days_total
      FROM daily
    )
    SELECT (day + 3) % 7 AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(rev) AS BIGINT) AS rev_cents,
           CAST(CAST(SUM(rev) AS HUGEINT) * n_days_total * 1000000
                // (COUNT(*) * total) AS BIGINT) AS index_ppm
    FROM daily CROSS JOIN tot
    GROUP BY 1, n_days_total, total
    ORDER BY 1
"""


# --- q265: Benford first-digit audit ------------------------------------------

# log10(1 + 1/d) in ppm, d = 1..9 — the Benford expectation as integer
# literals shared verbatim by both engines (no float log at query time)
_BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]


def q265_benford_audit(spark, sf_dir):
    """Benford first-significant-digit audit of order totals — the
    classic fabricated-data / pipeline-corruption screen: observed
    first-digit frequency (ppm) vs the Benford expectation (integer
    literal table), with the absolute deviation per digit. TPC-H-style
    uniform prices are NOT Benford-distributed, so the audit fires —
    which is the point of an audit (the dev_ppm column carries the
    evidence either way).

    Scale shape: one 9-group hash aggregate over
    ``substring(CAST(cents AS STRING), 1, 1)`` + a 1-row total
    broadcast. The expectation joins in as a literal array lookup —
    no float log10 anywhere.
    """
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.select(
        F.expr(
            "CAST(substring(CAST(CAST(ROUND(o_totalprice * 100, 0)"
            " AS BIGINT) AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    per = digits.groupBy("digit").agg(F.count("*").cast("long").alias("n"))
    tot = per.agg(F.sum("n").cast("long").alias("n_total"))
    exp_arr = F.array(*[F.lit(v) for v in _BENFORD_PPM])
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.expr(
                "CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div n_total"
                " AS BIGINT)"
            ).alias("obs_ppm"),
            F.element_at(exp_arr, F.col("digit").cast("int"))
            .cast("long")
            .alias("exp_ppm"),
        )
        .withColumn("dev_ppm", F.abs(F.col("obs_ppm") - F.col("exp_ppm")))
        .orderBy("digit")
    )


EVAL_QUERIES["q265_benford_audit"] = q265_benford_audit

EVAL_ORACLES["q265_benford_audit"] = f"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(ROUND(o_totalprice * 100, 0)
                   AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
    ),
    per AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM per)
    SELECT digit, n,
           CAST(CAST(n AS HUGEINT) * 1000000 // n_total AS BIGINT)
             AS obs_ppm,
           CAST(({_BENFORD_PPM})[digit] AS BIGINT) AS exp_ppm,
           CAST(abs(CAST(n AS HUGEINT) * 1000000 // n_total
                    - ({_BENFORD_PPM})[digit]) AS BIGINT) AS dev_ppm
    FROM per CROSS JOIN tot
    ORDER BY digit
"""


# --- q266: A/B test reader with sample-ratio-mismatch check --------------------


def q266_abtest_srm(spark, sf_dir):
    """A/B experiment readout with the sample-ratio-mismatch guard —
    the first thing a real experimentation pipeline checks before
    trusting any metric: users hash-split into two arms (portable md5
    parity — the deterministic stand-in for an assignment service),
    per-arm purchase rate in ppm, the rate delta, and the SRM
    chi-square against the expected 50/50 split via the exact identity
    ``chi2 = (u0 - u1)² / (u0 + u1)`` (1 dof), carried in milli.
    A large srm_chi2_milli means the split itself is broken and the
    delta column is garbage — the guard travels WITH the metric.

    Scale shape: one per-user aggregate (arm is a pure hash column),
    one 2-row arm rollup, one 1-row pivot. No floats, division last.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "user_id",
            F.expr(
                "conv(substring(md5(CAST(user_id AS STRING)), 1, 8),"
                " 16, 10) % 2"
            )
            .cast("long")
            .alias("arm"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .cast("long")
            .alias("is_purch"),
        )
        .groupBy("user_id", "arm")
        .agg(F.sum("is_purch").cast("long").alias("purchases"))
    )
    # materialize the 2-row arm table once: the a0/a1 pivot sides each
    # re-ran the full per-user aggregate over the event stream
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


EVAL_QUERIES["q266_abtest_srm"] = q266_abtest_srm

EVAL_ORACLES["q266_abtest_srm"] = """
    WITH per_user AS (
      SELECT user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS arm,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchases
      FROM events GROUP BY 1, 2
    ),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS users,
             CAST(SUM(purchases) AS BIGINT) AS purchases
      FROM per_user GROUP BY arm
    )
    SELECT a0.users AS u0, a1.users AS u1,
           a0.purchases AS p0, a1.purchases AS p1,
           CAST((a0.users - a1.users) * (a0.users - a1.users) * 1000
                // (a0.users + a1.users) AS BIGINT) AS srm_chi2_milli,
           CAST(a0.purchases * 1000000 // a0.users AS BIGINT) AS rate0_ppm,
           CAST(a1.purchases * 1000000 // a1.users AS BIGINT) AS rate1_ppm,
           CAST(a0.purchases * 1000000 // a0.users
                - a1.purchases * 1000000 // a1.users AS BIGINT)
             AS rate_delta_ppm
    FROM (SELECT users, purchases FROM arms WHERE arm = 0) a0
    CROSS JOIN (SELECT users, purchases FROM arms WHERE arm = 1) a1
"""


# --- q267: deterministic negative-sampling plan --------------------------------


def q267_negative_sampling(spark, sf_dir):
    """Negative-sampling plan for contrastive/recommender training:
    for each user, the 3 highest-priority items they did NOT click,
    where priority is a portable md5 hash of (user, item) — the
    deterministic, engine-reproducible stand-in for uniform sampling
    without replacement (the same per-key hash-priority trick as the
    curation samplers, pointed at pair construction). Output is capped
    to user_id < 20 so the oracle's user x item expansion stays
    printable; the plan is the production shape at any cardinality.

    Scale shape: the candidate space is users × the bounded item
    vocabulary (broadcast — ~100 rows), the clicked set anti-joins out,
    and rank<=3 compiles to WindowGroupLimit (map-side top-k before the
    user shuffle). No randomness, no collect.
    """
    ev = load_table(spark, sf_dir, "events")
    # distinct (user, item) click set: three consumers (item vocabulary,
    # user list, the anti-join) each re-ran the scan + props regexp —
    # materialize it once (the q250 basket_affinity shape)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.expr(
                "CAST(regexp_extract(props, '\"k\": ([0-9]+)', 1)"
                " AS BIGINT)"
            ).alias("item"),
        )
        .distinct()
        .transform(checkpoint_corpus)
    )
    items = clicks.select("item").distinct()
    users = clicks.select("user_id").where(F.col("user_id") < 20).distinct()
    cand = users.crossJoin(F.broadcast(items)).join(
        clicks, ["user_id", "item"], "left_anti"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.expr(
            "conv(substring(md5(concat(CAST(user_id AS STRING), ':',"
            " CAST(item AS STRING))), 1, 8), 16, 10)"
        ).cast("long"),
        F.col("item"),
    )
    return (
        cand.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= 3)
        .select("user_id", "item", F.col("neg_rank").cast("long").alias("neg_rank"))
        .orderBy("user_id", "neg_rank")
    )


EVAL_QUERIES["q267_negative_sampling"] = q267_negative_sampling

EVAL_ORACLES["q267_negative_sampling"] = """
    WITH clicks AS (
      SELECT DISTINCT user_id,
             CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
               AS item
      FROM events WHERE event_type = 'click'
    ),
    items AS (SELECT DISTINCT item FROM clicks),
    users AS (SELECT DISTINCT user_id FROM clicks WHERE user_id < 20),
    cand AS (
      SELECT u.user_id, i.item
      FROM users u CROSS JOIN items i
      WHERE NOT EXISTS (
        SELECT 1 FROM clicks c
        WHERE c.user_id = u.user_id AND c.item = i.item
      )
    ),
    ranked AS (
      SELECT user_id, item,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
                              || ':' || CAST(item AS VARCHAR)), 1, 8))
                             AS BIGINT), item
             ) AS neg_rank
      FROM cand
    )
    SELECT user_id, item, CAST(neg_rank AS BIGINT) AS neg_rank
    FROM ranked WHERE neg_rank <= 3
    ORDER BY user_id, neg_rank
"""


# --- q268: change-point segmentation (binary-segmentation step) ----------------


def q268_changepoint_segments(spark, sf_dir):
    """Change-point LOCALIZATION + effect size — the step after the
    q259 alarm: split the daily-revenue series at the argmax-|CUSUM|
    day and report both segments' exact means, the level-shift delta,
    and each segment's own residual max-|CUSUM| (the binary-
    segmentation evidence that structure remains — a large residual
    says "split again"). All exact cents, all division-last.

    Scale shape: the corpus collapses to the ~30-row daily table in
    one aggregate; the split point, segment means, and within-segment
    CUSUMs are windows over that table only. Output: 2 rows
    (segment 0 = up to and including the split day).
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    daily = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    ).groupBy("day").agg(F.sum("cents").cast("long").alias("rev"))
    daily = daily.localCheckpoint(eager=True)  # feeds split + segments
    mean = daily.agg(
        F.expr("CAST(sum(rev) div count(*) AS BIGINT)").alias("mean_rev")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cusum = daily.crossJoin(F.broadcast(mean)).select(
        "day",
        F.sum(F.col("rev") - F.col("mean_rev")).over(w).alias("c"),
    )
    split = cusum.orderBy(F.abs(F.col("c")).desc(), F.col("day")).limit(
        1
    ).select(F.col("day").alias("split_day"))
    segs = daily.crossJoin(F.broadcast(split)).withColumn(
        "segment", (F.col("day") > F.col("split_day")).cast("long")
    )
    seg_mean = segs.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr("CAST(sum(rev) div count(*) AS BIGINT)").alias(
            "mean_rev_cents"
        ),
    )
    ws = Window.partitionBy("segment").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    resid = (
        segs.join(F.broadcast(seg_mean), "segment")
        .select(
            "segment",
            "split_day",
            F.sum(F.col("rev") - F.col("mean_rev_cents")).over(ws).alias(
                "rc"
            ),
        )
        .groupBy("segment", "split_day")
        .agg(F.max(F.abs(F.col("rc"))).cast("long").alias("resid_max_cusum"))
    )
    both = seg_mean.agg(
        F.max(F.when(F.col("segment") == 1, F.col("mean_rev_cents"))).alias("m1"),
        F.max(F.when(F.col("segment") == 0, F.col("mean_rev_cents"))).alias("m0"),
    ).select((F.col("m1") - F.col("m0")).alias("shift_cents"))
    return (
        seg_mean.join(resid, "segment")
        .crossJoin(F.broadcast(both))
        .select(
            "segment",
            "split_day",
            "n_days",
            "mean_rev_cents",
            "shift_cents",
            "resid_max_cusum",
        )
        .orderBy("segment")
    )


EVAL_QUERIES["q268_changepoint_segments"] = q268_changepoint_segments

EVAL_ORACLES["q268_changepoint_segments"] = """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ),
    mean AS (
      SELECT CAST(SUM(rev) // COUNT(*) AS BIGINT) AS mean_rev FROM daily
    ),
    cusum AS (
      SELECT day,
             CAST(SUM(rev - mean_rev) OVER (ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
      FROM daily CROSS JOIN mean
    ),
    split AS (
      SELECT day AS split_day FROM cusum
      ORDER BY abs(c) DESC, day LIMIT 1
    ),
    segs AS (
      SELECT daily.day, daily.rev, split.split_day,
             CAST(daily.day > split.split_day AS BIGINT) AS segment
      FROM daily CROSS JOIN split
    ),
    seg_mean AS (
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(rev) // COUNT(*) AS BIGINT) AS mean_rev_cents
      FROM segs GROUP BY segment
    ),
    resid AS (
      SELECT segment, split_day,
             CAST(MAX(abs(rc)) AS BIGINT) AS resid_max_cusum
      FROM (
        SELECT s.segment, s.split_day,
               SUM(s.rev - m.mean_rev_cents) OVER (
                 PARTITION BY s.segment ORDER BY s.day
                 ROWS UNBOUNDED PRECEDING) AS rc
        FROM segs s JOIN seg_mean m ON s.segment = m.segment
      ) GROUP BY segment, split_day
    ),
    shift AS (
      SELECT CAST(MAX(CASE WHEN segment = 1 THEN mean_rev_cents END)
                  - MAX(CASE WHEN segment = 0 THEN mean_rev_cents END)
                  AS BIGINT) AS shift_cents
      FROM seg_mean
    )
    SELECT m.segment, r.split_day, m.n_days, m.mean_rev_cents,
           sh.shift_cents, r.resid_max_cusum
    FROM seg_mean m
    JOIN resid r ON m.segment = r.segment
    CROSS JOIN shift sh
    ORDER BY m.segment
"""


# --- q269: vocabulary coverage curve -------------------------------------------


def q269_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve — the tokenizer-sizing table: what
    fraction of all token OCCURRENCES the top-k most frequent types
    cover, for k in {10, 100, 1000} (plus the full-vocab row). Rank
    ties break by token text so both engines pick identical heads.
    This is the measured basis for vocab-size decisions the zipf audit
    (q239) only infers from the slope.

    Scale shape: one (token) count aggregate collapses the corpus to
    the vocabulary; the ordered cumulative share runs on that table
    (bounded by vocab, not corpus) and the k-spine probe is a
    broadcast of 3 literals. Integer ppm, division last.
    """
    from adhesive_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    types = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = types.select(
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), F.col("tok")))
        .alias("rank"),
        F.sum("cnt").over(w).alias("cum_cnt"),
    )
    ranked = ranked.transform(checkpoint_corpus)  # feeds 2 consumers
    tot = ranked.agg(
        F.max("cum_cnt").alias("total_occ"),
        F.max("rank").cast("long").alias("n_types"),
    )
    # k spine = {10, 100, 1000} plus the full-vocab row (k = n_types);
    # if n_types collides with a power of ten the groupBy collapses the
    # duplicate, same as the oracle's GROUP BY
    spine = (
        spark.range(0, 3)
        .select(F.expr("CAST(pow(10, id + 1) AS BIGINT)").alias("k"))
        .crossJoin(tot)
        .unionByName(
            tot.select(F.col("n_types").alias("k"), "total_occ", "n_types")
        )
    )
    return (
        ranked.crossJoin(F.broadcast(spine))
        .where(F.col("rank") <= F.col("k"))
        .groupBy("k", "total_occ", "n_types")
        .agg(F.max("cum_cnt").alias("head_occ"))
        .select(
            "k",
            F.least(F.col("k"), F.col("n_types")).alias("types_used"),
            F.col("head_occ").cast("long").alias("head_occ"),
            F.expr(
                "CAST(CAST(head_occ AS DECIMAL(38,0)) * 1000000"
                " div total_occ AS BIGINT)"
            ).alias("mass_ppm"),
        )
        .orderBy("k")
    )


EVAL_QUERIES["q269_vocab_coverage"] = q269_vocab_coverage

EVAL_ORACLES["q269_vocab_coverage"] = """
    WITH types AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (
        SELECT unnest(string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS tok
        FROM documents
      ) GROUP BY tok
    ),
    ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank,
             SUM(cnt) OVER (ORDER BY cnt DESC, tok
                            ROWS UNBOUNDED PRECEDING) AS cum_cnt
      FROM types
    ),
    tot AS (
      SELECT CAST(MAX(cum_cnt) AS BIGINT) AS total_occ,
             CAST(MAX(rank) AS BIGINT) AS n_types
      FROM ranked
    ),
    spine AS (
      SELECT UNNEST([10, 100, 1000]) AS k
      UNION ALL SELECT n_types FROM tot
    )
    SELECT k,
           CAST(LEAST(k, tot.n_types) AS BIGINT) AS types_used,
           CAST(MAX(cum_cnt) AS BIGINT) AS head_occ,
           CAST(CAST(MAX(cum_cnt) AS HUGEINT) * 1000000
                // tot.total_occ AS BIGINT) AS mass_ppm
    FROM ranked CROSS JOIN spine CROSS JOIN tot
    WHERE ranked.rank <= spine.k
    GROUP BY k, tot.total_occ, tot.n_types
    ORDER BY k
"""


# --- q270: point-in-time feature matrix (leakage-free training assembly) ------


def q270_feature_matrix(spark, sf_dir):
    """Point-in-time training-matrix assembly — THE feature-store
    correctness problem: for every purchase (the label event), features
    computed from that user's history STRICTLY BEFORE the label
    timestamp (clicks, views, prior spend, days since first activity).
    One ``ROWS UNBOUNDED PRECEDING TO 1 PRECEDING`` window per user
    does all of it — no as-of join per feature, no label-row self-join,
    and leakage is impossible by construction (the frame excludes the
    current row; ties break on event_id so both engines see the same
    history ordering).

    Scale shape: ONE user-key shuffle for any number of features — the
    union-then-window trick that replaces N point-in-time joins; the
    label filter happens after the window, so feature state is built in
    the same pass that emits labels. First-purchase rows keep NULL
    prior-activity columns (no fabricated zeros for day-0 users).
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    feats = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
        F.expr("unix_micros(ts)").alias("us"),
        F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"))
        .over(w)
        .cast("long")
        .alias("n_clicks_before"),
        F.sum(F.expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END"))
        .over(w)
        .cast("long")
        .alias("n_views_before"),
        F.sum(
            F.expr("CASE WHEN event_type = 'purchase' THEN"
                   " CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END")
        )
        .over(w)
        .cast("long")
        .alias("spent_before_cents"),
        F.min(F.expr("unix_micros(ts)")).over(w).alias("first_us"),
    )
    return (
        feats.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.col("cents").alias("label_cents"),
            "n_clicks_before",
            "n_views_before",
            "spent_before_cents",
            F.expr(
                "CAST((us - first_us) div 86400000000 AS BIGINT)"
            ).alias("days_active_before"),
        )
        .orderBy("user_id", "event_id")
    )


EVAL_QUERIES["q270_feature_matrix"] = q270_feature_matrix

EVAL_ORACLES["q270_feature_matrix"] = """
    WITH feats AS (
      SELECT user_id, event_id, event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             epoch_us(ts) AS us,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT) AS n_clicks_before,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT) AS n_views_before,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                           ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT) AS spent_before_cents,
             MIN(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_us
      FROM events
    )
    SELECT user_id, event_id, cents AS label_cents,
           n_clicks_before, n_views_before, spent_before_cents,
           CAST((us - first_us) // 86400000000 AS BIGINT)
             AS days_active_before
    FROM feats WHERE event_type = 'purchase'
    ORDER BY user_id, event_id
"""


# --- q271: CUPED variance-reduction audit --------------------------------------

_CUPED_SPLIT_DAY = 19738   # epoch day: 15 days into the fixed 2024-01
#                            event window — pre-period vs experiment
#                            period boundary, identical at every sf


def q271_cuped_audit(spark, sf_dir):
    """CUPED variance-reduction audit — the companion the q266 A/B
    readout needs before anyone trusts a delta: per user, pre-period
    spend x (days < split) and experiment-period spend y, then the
    exact integer normal-equation pieces

        cov_n = n·Σxy − Σx·Σy      var_n = n·Σx² − (Σx)²

    reported as theta (the CUPED coefficient, milli) and corr²
    (the fraction of metric variance the covariate removes, milli —
    CUPED's entire value proposition, measured not assumed). Spend is
    dollar-quantized (cents div 100) so every product stays in BIGINT
    until the two DECIMAL(38,0)-carried final divisions; cov's sign is
    emitted separately so no negative integer division happens (Spark
    ``div`` and DuckDB ``//`` both truncate toward zero — verified —
    but Python-style floor engines differ, so the sign-split
    convention costs nothing and ports everywhere).

    Scale shape: ONE per-user aggregate collapses the stream, one
    5-number moment reduction, zero joins. The same pass CUPED
    production systems run at any cardinality.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    per_user = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT) div 100").alias(
            "dollars"
        ),
    ).groupBy("user_id").agg(
        F.sum(
            F.when(F.col("day") < _CUPED_SPLIT_DAY, F.col("dollars")).otherwise(0)
        )
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(F.col("day") >= _CUPED_SPLIT_DAY, F.col("dollars")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("y"),
    )
    moments = per_user.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    # moment products in DECIMAL(38,0), not BIGINT: at 100 TB n·Σxy can
    # exceed 2^63, where Spark (non-ANSI) wraps silently while DuckDB
    # errors — the DECIMAL cast keeps both engines exact to 38 digits
    # (oracle twin: HUGEINT), so the headroom claim holds end-to-end
    dec = "decimal(38,0)"
    return moments.select(
        "n",
        (
            F.col("n").cast(dec) * F.col("sxy")
            - F.col("sx").cast(dec) * F.col("sy")
        ).alias("cov_n"),
        (
            F.col("n").cast(dec) * F.col("sxx")
            - F.col("sx").cast(dec) * F.col("sx")
        ).alias("var_x_n"),
        (
            F.col("n").cast(dec) * F.col("syy")
            - F.col("sy").cast(dec) * F.col("sy")
        ).alias("var_y_n"),
    ).select(
        "n",
        F.signum("cov_n").cast("long").alias("cov_sign"),
        F.expr(
            "CAST(CAST(abs(cov_n) AS DECIMAL(38,0)) * 1000 div var_x_n"
            " AS BIGINT)"
        ).alias("theta_abs_milli"),
        F.expr(
            "CAST(CAST(cov_n AS DECIMAL(38,0)) * cov_n * 1000"
            " div (CAST(var_x_n AS DECIMAL(38,0)) * var_y_n) AS BIGINT)"
        ).alias("corr2_milli"),
    )


EVAL_QUERIES["q271_cuped_audit"] = q271_cuped_audit

EVAL_ORACLES["q271_cuped_audit"] = f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000
                                < {_CUPED_SPLIT_DAY}
                           THEN CAST(ROUND(value * 100, 0) AS BIGINT) // 100
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000
                                >= {_CUPED_SPLIT_DAY}
                           THEN CAST(ROUND(value * 100, 0) AS BIGINT) // 100
                           ELSE 0 END) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    moments AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM per_user
    ),
    parts AS (
      SELECT n,
             CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cov_n,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS var_x_n,
             CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS var_y_n
      FROM moments
    )
    SELECT n,
           CAST(sign(cov_n) AS BIGINT) AS cov_sign,
           CAST(CAST(abs(cov_n) AS HUGEINT) * 1000 // var_x_n AS BIGINT)
             AS theta_abs_milli,
           CAST(CAST(cov_n AS HUGEINT) * cov_n * 1000
                // (CAST(var_x_n AS HUGEINT) * var_y_n) AS BIGINT)
             AS corr2_milli
    FROM parts
"""


# --- q272: quantile treatment effect -------------------------------------------


def q272_quantile_treatment_effect(spark, sf_dir):
    """Quantile treatment effect — what the q266 mean-delta readout
    hides: the EXACT p50 and p90 of the purchase-value distribution per
    md5-parity arm, and their deltas. Quantiles come from per-distinct-
    value counts + a cumulative window per arm (the two-phase exact-
    quantile policy: rank thresholds are ceil(n·q/1000), lower-quantile
    convention, no interpolation — integers end to end; the delta is a
    subtraction, never a division, so its sign is engine-safe).

    Scale shape: one (arm, cents) aggregate collapses the stream; the
    per-arm cumulative window runs over distinct values only, and the
    2x2 quantile probe is a broadcast spine. Output: 2 rows (p500,
    p900).
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    per = ev.select(
        F.expr(
            "conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)"
            " % 2"
        )
        .cast("long")
        .alias("arm"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    ).groupBy("arm", "cents").agg(F.count("*").cast("long").alias("cnt"))
    w = (
        Window.partitionBy("arm")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select(
        "arm", "cents", F.sum("cnt").over(w).alias("cum")
    ).localCheckpoint(eager=True)  # feeds totals + both quantile probes
    tot = cum.groupBy("arm").agg(F.max("cum").cast("long").alias("n_arm"))
    spine = spark.range(0, 2).select(
        F.expr("CAST(CASE WHEN id = 0 THEN 500 ELSE 900 END AS BIGINT)").alias(
            "q_permille"
        )
    )
    probes = (
        cum.join(F.broadcast(tot), "arm")
        .crossJoin(F.broadcast(spine))
        .where(
            F.col("cum")
            >= F.expr("(n_arm * q_permille + 999) div 1000")
        )
        .groupBy("q_permille", "arm")
        .agg(F.min("cents").alias("qc"))
    )
    return (
        probes.groupBy("q_permille")
        .agg(
            F.max(F.when(F.col("arm") == 0, F.col("qc"))).cast("long").alias(
                "arm0_cents"
            ),
            F.max(F.when(F.col("arm") == 1, F.col("qc"))).cast("long").alias(
                "arm1_cents"
            ),
        )
        .select(
            "q_permille",
            "arm0_cents",
            "arm1_cents",
            (F.col("arm1_cents") - F.col("arm0_cents")).alias("delta_cents"),
        )
        .orderBy("q_permille")
    )


EVAL_QUERIES["q272_quantile_treatment_effect"] = q272_quantile_treatment_effect

EVAL_ORACLES["q272_quantile_treatment_effect"] = """
    WITH per AS (
      SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS arm,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT arm, cents,
             SUM(cnt) OVER (PARTITION BY arm ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM per
    ),
    tot AS (
      SELECT arm, CAST(MAX(cum) AS BIGINT) AS n_arm FROM cum GROUP BY arm
    ),
    spine AS (SELECT UNNEST([500, 900]) AS q_permille),
    probes AS (
      SELECT s.q_permille, c.arm, MIN(c.cents) AS qc
      FROM cum c
      JOIN tot t ON c.arm = t.arm
      CROSS JOIN spine s
      WHERE c.cum >= (t.n_arm * s.q_permille + 999) // 1000
      GROUP BY s.q_permille, c.arm
    )
    SELECT q_permille,
           CAST(MAX(CASE WHEN arm = 0 THEN qc END) AS BIGINT) AS arm0_cents,
           CAST(MAX(CASE WHEN arm = 1 THEN qc END) AS BIGINT) AS arm1_cents,
           CAST(MAX(CASE WHEN arm = 1 THEN qc END)
                - MAX(CASE WHEN arm = 0 THEN qc END) AS BIGINT)
             AS delta_cents
    FROM probes GROUP BY q_permille ORDER BY q_permille
"""


# --- q274: grid clustering (the q260 query) -----------------------------------


def q274_grid_clusters_star(spark, sf_dir):
    """The q260 grid-density clustering under its own name (a bench
    headliner). ``graph.connected_components`` is the package's only CC
    engine, so there is nothing left to vary; the oracle is q260's."""
    return q260_grid_density_clusters(spark, sf_dir)


EVAL_QUERIES["q274_grid_clusters_star"] = q274_grid_clusters_star

EVAL_ORACLES["q274_grid_clusters_star"] = EVAL_ORACLES[
    "q260_grid_density_clusters"
]


# --- q275: Theil-Sen robust trend ----------------------------------------------


def q275_theil_sen_trend(spark, sf_dir):
    """Theil–Sen robust trend of daily purchase revenue — the
    median-of-pairwise-slopes estimator that shrugs off the outlier
    days that bend the OLS line (q204): slopes are micro-quantized
    integers (``(rev_j − rev_i) * 1e6 div (day_j − day_i)`` — the SAME
    truncation in both engines, so the exact median of the quantized
    slopes is engine-identical), and the median uses the lower-median
    convention off a cumulative count (q272 policy).

    Scale shape: the corpus collapses to the ~30-row daily table in
    one aggregate; the pairwise slope set (~C(30,2) = 435 rows) is a
    self-join of that TINY table — the pair term is calendar-bounded,
    never corpus-bounded. Output: one row (n_days, n_pairs,
    slope_micro_per_day, ols companion from the same spine).
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    daily = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    ).groupBy("day").agg(F.sum("cents").cast("long").alias("rev"))
    daily = daily.localCheckpoint(eager=True)  # tiny; feeds pairs + count
    a, b = daily.alias("a"), daily.alias("b")
    slopes = (
        a.join(b, F.col("a.day") < F.col("b.day"))
        .select(
            F.expr(
                "(b.rev - a.rev) * 1000000 div (b.day - a.day)"
            ).alias("slope_micro")
        )
    )
    per = slopes.groupBy("slope_micro").agg(
        F.count("*").cast("long").alias("cnt")
    )
    w = Window.orderBy("slope_micro").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.select("slope_micro", F.sum("cnt").over(w).alias("cum"))
    tot = cum.agg(F.max("cum").cast("long").alias("n_pairs"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("cum") >= F.expr("(n_pairs + 1) div 2"))
        .agg(F.min("slope_micro").alias("slope_micro_per_day"))
    )
    n_days = daily.agg(F.count("*").cast("long").alias("n_days"))
    return (
        n_days.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(med))
        .select("n_days", "n_pairs", "slope_micro_per_day")
    )


EVAL_QUERIES["q275_theil_sen_trend"] = q275_theil_sen_trend

EVAL_ORACLES["q275_theil_sen_trend"] = """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ),
    slopes AS (
      SELECT CAST((b.rev - a.rev) * 1000000 // (b.day - a.day) AS BIGINT)
               AS slope_micro
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    cum AS (
      SELECT slope_micro,
             SUM(cnt) OVER (ORDER BY slope_micro
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM (SELECT slope_micro, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM slopes GROUP BY slope_micro)
    ),
    tot AS (SELECT CAST(MAX(cum) AS BIGINT) AS n_pairs FROM cum),
    med AS (
      SELECT MIN(slope_micro) AS slope_micro_per_day
      FROM cum CROSS JOIN tot
      WHERE cum >= (n_pairs + 1) // 2
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           tot.n_pairs, med.slope_micro_per_day
    FROM tot CROSS JOIN med
"""


# --- q276: bounded-hop BFS frontier profile ------------------------------------


def q276_bfs_frontier(spark, sf_dir):
    """Bounded-hop BFS over the supplier co-affiliation graph (two
    suppliers adjacent iff they share a df-capped part — the q263
    candidate graph without the scoring): exact frontier sizes at hops
    0–3 from the minimum supplier id, plus the not-yet-reached count —
    the traversal primitive (reachability, blast-radius, influence
    horizon) the CC/PageRank/k-core family doesn't cover. Each hop is
    one equi-join of the ≤hop distance table onto the edge list + a
    min-aggregate: K hops = K keyed shuffles, the textbook BFS-on-
    MapReduce shape (and why hop budgets, not diameters, are the 100 TB
    traversal contract).

    Output: one row per hop (0..3) with its frontier size, plus
    hop = -1 carrying the unreached-node count.
    """
    edges = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    part_deg = edges.groupBy("p").agg(F.count("*").alias("pd"))
    e = edges.join(
        part_deg.where(F.col("pd") <= _LP_MAX_PART_DEG), "p"
    )
    adj = (
        e.alias("a")
        .join(e.alias("b"), "p")
        .where(F.col("a.s") != F.col("b.s"))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
        .transform(checkpoint_corpus)  # feeds 3 BFS rounds + node count
    )
    nodes = adj.select(F.col("u").alias("node")).distinct()
    src = nodes.agg(F.min("node").alias("node")).withColumn(
        "dist", F.lit(0).cast("long")
    )
    dist = src.localCheckpoint(eager=True)
    for hop in (1, 2, 3):
        frontier = (
            adj.join(
                dist.select(F.col("node").alias("u"), "dist"), "u"
            )
            .select(F.col("v").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(frontier)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .transform(checkpoint_corpus)
        )
    reached = dist.groupBy("dist").agg(
        F.count("*").cast("long").alias("n_suppliers")
    ).select(F.col("dist").alias("hop"), "n_suppliers")
    unreached = (
        nodes.join(dist, "node", "left_anti")
        .agg(F.count("*").cast("long").alias("n_suppliers"))
        .select(F.lit(-1).cast("long").alias("hop"), "n_suppliers")
    )
    return reached.unionByName(unreached).orderBy("hop")


EVAL_QUERIES["q276_bfs_frontier"] = q276_bfs_frontier

EVAL_ORACLES["q276_bfs_frontier"] = f"""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    keep AS (
      SELECT p FROM edges GROUP BY p
      HAVING COUNT(*) <= {_LP_MAX_PART_DEG}
    ),
    e AS (SELECT edges.s, edges.p FROM edges JOIN keep USING (p)),
    adj AS (
      SELECT DISTINCT a.s AS u, b.s AS v
      FROM e a JOIN e b ON a.p = b.p AND a.s <> b.s
    ),
    nodes AS (SELECT DISTINCT u AS node FROM adj),
    src AS (SELECT MIN(node) AS node FROM nodes),
    reach(node, d) AS (
      SELECT node, 0 FROM src
      UNION
      SELECT adj.v, reach.d + 1
      FROM reach JOIN adj ON adj.u = reach.node
      WHERE reach.d < 3
    ),
    dist AS (SELECT node, CAST(MIN(d) AS BIGINT) AS dist
             FROM reach GROUP BY node)
    SELECT dist AS hop, CAST(COUNT(*) AS BIGINT) AS n_suppliers
    FROM dist GROUP BY dist
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS hop,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers
    FROM nodes WHERE node NOT IN (SELECT node FROM dist)
    ORDER BY hop
"""
