"""Scale-operations queries: data-layout audits, lakehouse maintenance
planning, deterministic data-loader ordering, and corpus-mixture
accounting — the operational layer a 100 TB training-data pipeline
runs AROUND its analytic queries.

Every query keeps its arithmetic in exact integers (ppm / milli fixed
point, `div` truncation on both engines) so the driver's type-strict
value hash matches DuckDB bit-for-bit; see
operators/text.py::scaled_long for the house rationale.

Reference parity note: the reference engine (milenkovicm/adhesive)
delegates all relational work to its host engine and ships no layout /
maintenance tooling — this module is part of the SURVEY §2.3 extension
surface, not a port of any reference file.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from adhesive_spark.operators.text import tokens
from adhesive_spark.queries.oracle_fragments import _TOKS, _quality_sql
from adhesive_spark.sources.registry import checkpoint_corpus, load_table

SCALE_QUERIES: dict = {}
SCALE_ORACLES: dict = {}

# --- q217: Z-order layout audit ----------------------------------------------


def q217_zorder_layout(spark, sf_dir):
    """Data-layout audit: does Z-ORDER clustering beat the natural
    (orderkey-sorted) layout for a 2-dimensional predicate?

    Quantizes (l_partkey, l_suppkey) to 4 bits each, interleaves them
    into an 8-bit Morton code, assigns rows to 64 value-range blocks
    under each layout (natural = orderkey ranges, zorder = morton
    ranges — exactly what ``repartitionByRange`` + parquet min/max zone
    maps give you at scale), then counts how many blocks a rectangular
    predicate (px IN 3..5 AND sx IN 4..6) would have to scan. The
    zorder layout co-locates the rectangle into a handful of blocks;
    the natural layout scans nearly all of them — the number this
    query outputs is the file-skipping ratio a 100 TB table would see.

    Scale shape: one broadcast 1-row max, one groupBy per (layout,
    block) — no global sort, no window; blocks are pure value-range
    arithmetic so the audit parallelizes perfectly.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_partkey") % 16).alias("px"),
        (F.col("l_suppkey") % 16).alias("sx"),
    )
    morton = F.lit(0)
    for i in range(4):
        morton = morton + F.shiftleft(
            F.shiftright(F.col("px"), i).bitwiseAND(F.lit(1)), 2 * i
        )
        morton = morton + F.shiftleft(
            F.shiftright(F.col("sx"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    mx = li.agg(F.max("l_orderkey").alias("max_ok"))
    base = li.withColumn("morton", morton).crossJoin(F.broadcast(mx))
    stacked = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("natural").alias("layout"),
                    F.expr("(l_orderkey * 64) div (max_ok + 1)")
                    .cast("long")
                    .alias("block"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr("morton div 4").cast("long").alias("block"),
                ),
            )
        ).alias("lb"),
        "px",
        "sx",
    ).select("lb.layout", "lb.block", "px", "sx")
    blocks = stacked.groupBy("layout", "block").agg(
        F.min("px").alias("min_px"),
        F.max("px").alias("max_px"),
        F.min("sx").alias("min_sx"),
        F.max("sx").alias("max_sx"),
    )
    hit = (
        (F.col("min_px") <= 5)
        & (F.col("max_px") >= 3)
        & (F.col("min_sx") <= 6)
        & (F.col("max_sx") >= 4)
    )
    return (
        blocks.groupBy("layout")
        .agg(
            F.count("*").alias("blocks_total"),
            F.sum(F.when(hit, 1).otherwise(0))
            .cast("long")
            .alias("blocks_scanned"),
        )
        .select(
            "layout",
            "blocks_total",
            "blocks_scanned",
            F.expr("blocks_scanned * 1000 div blocks_total")
            .cast("long")
            .alias("scan_frac_milli"),
        )
    )


SCALE_QUERIES["q217_zorder_layout"] = q217_zorder_layout

SCALE_ORACLES["q217_zorder_layout"] = """
    WITH q AS (
      SELECT l_orderkey, l_partkey % 16 AS px, l_suppkey % 16 AS sx
      FROM lineitem
    ),
    mx AS (SELECT MAX(l_orderkey) AS max_ok FROM q),
    m AS (
      SELECT l_orderkey, px, sx,
             (((px >> 0) & 1) << 0) + (((sx >> 0) & 1) << 1)
           + (((px >> 1) & 1) << 2) + (((sx >> 1) & 1) << 3)
           + (((px >> 2) & 1) << 4) + (((sx >> 2) & 1) << 5)
           + (((px >> 3) & 1) << 6) + (((sx >> 3) & 1) << 7) AS morton
      FROM q
    ),
    stacked AS (
      SELECT 'natural' AS layout,
             CAST((l_orderkey * 64) // (max_ok + 1) AS BIGINT) AS block,
             px, sx
      FROM m, mx
      UNION ALL
      SELECT 'zorder', CAST(morton // 4 AS BIGINT), px, sx FROM m
    ),
    blocks AS (
      SELECT layout, block,
             MIN(px) AS min_px, MAX(px) AS max_px,
             MIN(sx) AS min_sx, MAX(sx) AS max_sx
      FROM stacked GROUP BY layout, block
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS blocks_total,
           CAST(SUM(CASE WHEN min_px <= 5 AND max_px >= 3
                          AND min_sx <= 6 AND max_sx >= 4
                     THEN 1 ELSE 0 END) AS BIGINT) AS blocks_scanned,
           CAST(CAST(SUM(CASE WHEN min_px <= 5 AND max_px >= 3
                               AND min_sx <= 6 AND max_sx >= 4
                          THEN 1 ELSE 0 END) AS BIGINT) * 1000
                // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS scan_frac_milli
    FROM blocks GROUP BY layout
"""


# --- q218: compaction planner -------------------------------------------------


def q218_compaction_plan(spark, sf_dir):
    """Small-files compaction planner — the lakehouse maintenance pass
    that keeps a 100 TB table readable. Per (source, lang) partition:
    current file count (ingest shards, modeled as doc_id % 8), exact
    byte estimate, the target file count at an 8 KiB target size, and
    the merge factor (files_now : files_target, in milli) that tells
    the OPTIMIZE job how aggressively to coalesce. A merge factor of
    8000 means 8 small files collapse into 1 — the read-amplification
    win is the same number.

    Scale shape: a single hash aggregate over the partition grain; the
    planner's output is tiny (one row per partition) no matter the
    table size."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_rows"),
        F.sum("n_chars").cast("long").alias("est_bytes"),
        F.countDistinct(F.col("doc_id") % 8).alias("files_now"),
    )
    return per.select(
        "source",
        "lang",
        "n_rows",
        "est_bytes",
        "files_now",
        F.expr("(est_bytes + 8191) div 8192").cast("long").alias("files_target"),
        F.expr(
            "files_now * 1000 div greatest((est_bytes + 8191) div 8192, 1)"
        )
        .cast("long")
        .alias("merge_factor_milli"),
    )


SCALE_QUERIES["q218_compaction_plan"] = q218_compaction_plan

SCALE_ORACLES["q218_compaction_plan"] = """
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS est_bytes,
           CAST(COUNT(DISTINCT doc_id % 8) AS BIGINT) AS files_now,
           CAST((CAST(SUM(n_chars) AS BIGINT) + 8191) // 8192 AS BIGINT)
             AS files_target,
           CAST(CAST(COUNT(DISTINCT doc_id % 8) AS BIGINT) * 1000
                // GREATEST((CAST(SUM(n_chars) AS BIGINT) + 8191) // 8192,
                            1) AS BIGINT) AS merge_factor_milli
    FROM documents GROUP BY source, lang
"""


# --- q219: interval union coverage ---------------------------------------------


def q219_interval_union(spark, sf_dir):
    """Merged-interval coverage per user: every event opens a 300 s
    activity interval; overlapping/abutting intervals fuse into
    islands (the classic sweep — an interval starts a new island iff
    its start exceeds the running max end of everything before it).
    Output per user: island count and total covered microseconds —
    the exact 'active time' metric sessionization approximates.

    Scale shape: one window pass partitioned by user (running max end
    + running island counter), one aggregate; no self-join, no pair
    term. All arithmetic in unix microseconds (exact integers).
    Core: operators/asof.py::interval_union (ties on (start, end) are
    interchangeable rows — identical intervals — so the sweep's output
    is order-deterministic)."""
    from adhesive_spark.operators.asof import interval_union

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.unix_micros("ts").alias("s"))
        .withColumn("e", F.col("s") + F.lit(300_000_000))
    )
    return interval_union(ev, "user_id", "s", "e").select(
        "user_id", "n_islands", F.col("covered").alias("covered_us")
    )


SCALE_QUERIES["q219_interval_union"] = q219_interval_union

SCALE_ORACLES["q219_interval_union"] = """
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + 300000000 AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR s > MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
                  THEN 1 ELSE 0 END AS new_island,
             event_id
      FROM iv
    ),
    numbered AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM flagged
    ),
    per_island AS (
      SELECT user_id, island, MIN(s) AS st, MAX(e) AS en
      FROM numbered GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(en - st) AS BIGINT) AS covered_us
    FROM per_island GROUP BY user_id
"""


# --- q220: deterministic epoch shuffle plan ------------------------------------


def q220_epoch_shuffle(spark, sf_dir):
    """Deterministic multi-epoch data-loader ordering: each training
    epoch re-shuffles the corpus by ranking on md5(epoch:doc_id) — a
    seeded permutation with no RNG state, reproducible on any cluster
    and resumable mid-epoch (the property torch-style dataloaders get
    from a seeded generator, expressed as a plan). Output per epoch:
    the first document under that ordering, an order fingerprint
    (sum of position·doc_id — any transposition changes it), and the
    total positional displacement vs epoch 0, proving successive
    epochs genuinely permute rather than rotate.

    Scale shape: the rank-per-epoch IS the shuffle a loader would do
    anyway; displacement is one equi-join on doc_id. Epoch spine is a
    3-row broadcast literal (benign BNL class b)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(3).select(F.col("id").alias("epoch"))
    keyed = docs.crossJoin(F.broadcast(epochs)).withColumn(
        "k", F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id")))
    )
    # ONE pass, no join-back: epoch 0's position for a doc is its rank
    # under md5("0:"+id), and every epoch partition holds the SAME doc
    # set — so pos0 is a second window over the same epoch exchange
    # (one extra in-partition sort) instead of a self-join that
    # re-evaluated the whole rank pass and shuffled the corpus by
    # doc_id.
    w = Window.partitionBy("epoch").orderBy("k")
    w0 = Window.partitionBy("epoch").orderBy(
        F.md5(F.concat_ws(":", F.lit(0), F.col("doc_id")))
    )
    pos = keyed.select(
        "epoch",
        "doc_id",
        F.row_number().over(w).alias("pos"),
        F.row_number().over(w0).alias("pos0"),
    )
    return (
        pos.groupBy("epoch")
        .agg(
            F.max(F.when(F.col("pos") == 1, F.col("doc_id"))).alias(
                "first_doc"
            ),
            F.sum(F.col("pos").cast("long") * F.col("doc_id"))
            .cast("long")
            .alias("order_fp"),
            F.sum(F.abs(F.col("pos") - F.col("pos0")))
            .cast("long")
            .alias("total_displacement"),
        )
    )


SCALE_QUERIES["q220_epoch_shuffle"] = q220_epoch_shuffle

SCALE_ORACLES["q220_epoch_shuffle"] = """
    WITH spine AS (
      SELECT unnest(generate_series(0, 2)) AS epoch
    ),
    keyed AS (
      SELECT s.epoch, d.doc_id,
             md5(CAST(s.epoch AS VARCHAR) || ':'
                 || CAST(d.doc_id AS VARCHAR)) AS k
      FROM documents d, spine s
    ),
    pos AS (
      SELECT epoch, doc_id,
             ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k) AS pos
      FROM keyed
    ),
    e0 AS (
      SELECT doc_id, pos AS pos0 FROM pos WHERE epoch = 0
    )
    SELECT p.epoch,
           CAST(MAX(CASE WHEN p.pos = 1 THEN p.doc_id END) AS BIGINT)
             AS first_doc,
           CAST(SUM(p.pos * p.doc_id) AS BIGINT) AS order_fp,
           CAST(SUM(ABS(p.pos - e0.pos0)) AS BIGINT) AS total_displacement
    FROM pos p JOIN e0 USING (doc_id)
    GROUP BY p.epoch
"""


# --- q221: per-language discriminative tokens ----------------------------------


def q221_lang_token_affinity(spark, sf_dir):
    """Naive-Bayes-style feature selection: the 3 most discriminative
    tokens per language by smoothed rate ratio — rate of the token
    inside the language (ppm) vs its rate in the REST of the corpus
    (ppm), both +1-smoothed, ratio in milli. This is the count table a
    multinomial NB language classifier trains on, and the lexicon a
    fast-path langid filter is built from.

    Scale shape: one explode + two hash aggregates; the per-language
    and per-token marginals are tiny (5 langs, bounded vocab) and
    broadcast back — no shuffle larger than the (lang, token) grain."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    # one tokenize+explode pass: the (lang, tok) grain is materialized
    # once and the three marginals are SUMS of it (identical counts by
    # associativity) — the four separate aggregates each re-ran the
    # corpus explode kernel
    lt = toks.groupBy("lang", "tok").agg(
        F.count("*").alias("n_lt")
    ).transform(checkpoint_corpus)
    lg = lt.groupBy("lang").agg(F.sum("n_lt").alias("n_l"))
    tk = lt.groupBy("tok").agg(F.sum("n_lt").alias("n_t"))
    grand = lt.agg(F.sum("n_lt").alias("n_all"))
    scored = (
        lt.join(F.broadcast(lg), "lang")
        .join(F.broadcast(tk), "tok")
        .crossJoin(F.broadcast(grand))
        .select(
            "lang",
            "tok",
            F.expr("n_lt * 1000000 div n_l").cast("long").alias("rate_ppm"),
            F.expr(
                "((n_lt * 1000000 div n_l) + 1) * 1000 div "
                "(((n_t - n_lt) * 1000000 div (n_all - n_l)) + 1)"
            )
            .cast("long")
            .alias("affinity_milli"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("affinity_milli").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("lang", "tok", "rate_ppm", "affinity_milli", "rnk")
    )


SCALE_QUERIES["q221_lang_token_affinity"] = q221_lang_token_affinity

SCALE_ORACLES["q221_lang_token_affinity"] = f"""
    WITH toks AS (
      SELECT lang, unnest({_TOKS}) AS tok FROM documents
    ),
    t AS (SELECT lang, tok FROM toks WHERE tok <> ''),
    lt AS (SELECT lang, tok, COUNT(*) AS n_lt FROM t GROUP BY lang, tok),
    lg AS (SELECT lang, COUNT(*) AS n_l FROM t GROUP BY lang),
    tk AS (SELECT tok, COUNT(*) AS n_t FROM t GROUP BY tok),
    grand AS (SELECT COUNT(*) AS n_all FROM t),
    scored AS (
      SELECT lt.lang, lt.tok,
             CAST(lt.n_lt * 1000000 // lg.n_l AS BIGINT) AS rate_ppm,
             CAST(((lt.n_lt * 1000000 // lg.n_l) + 1) * 1000
                  // (((tk.n_t - lt.n_lt) * 1000000
                       // (grand.n_all - lg.n_l)) + 1) AS BIGINT)
               AS affinity_milli
      FROM lt JOIN lg USING (lang) JOIN tk USING (tok), grand
    ),
    ranked AS (
      SELECT lang, tok, rate_ppm, affinity_milli,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY affinity_milli DESC, tok
             ) AS rnk
      FROM scored
    )
    SELECT lang, tok, rate_ppm, affinity_milli, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
"""


# --- q222: per-source token-distribution drift ----------------------------------


def q222_source_tv_drift(spark, sf_dir):
    """Token-distribution drift per source: total-variation distance
    (½·Σ|p−q|, in ppm) between each source's unigram distribution and
    the corpus-wide distribution — the integer-exact cousin of the
    KL/JS drift monitors that decide when a crawl source has gone off
    distribution. Missing tokens contribute their full corpus mass via
    the source×vocab grid left-join.

    Scale shape: one explode + hash aggregates; the grid is
    sources × vocab (bounded lexicon here; at open vocab you'd sketch
    the distribution first), built by broadcasting the vocab side."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    # one tokenize+explode pass (q221 shape): materialize the
    # (source, tok) grain once; the marginals are sums of it
    sc = toks.groupBy("source", "tok").agg(
        F.count("*").alias("n_st")
    ).transform(checkpoint_corpus)
    st = sc.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    cc = sc.groupBy("tok").agg(F.sum("n_st").alias("n_c"))
    grand = sc.agg(F.sum("n_st").alias("n_all"))
    grid = (
        st.crossJoin(F.broadcast(cc))
        .join(sc, ["source", "tok"], "left")
        .na.fill({"n_st": 0})
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "n_s",
            F.abs(
                F.expr("n_st * 1000000 div n_s")
                - F.expr("n_c * 1000000 div n_all")
            ).alias("absdiff_ppm"),
        )
    )
    return grid.groupBy("source").agg(
        F.max("n_s").cast("long").alias("n_tokens"),
        F.expr("sum(absdiff_ppm) div 2").cast("long").alias("tv_ppm"),
    )


SCALE_QUERIES["q222_source_tv_drift"] = q222_source_tv_drift

SCALE_ORACLES["q222_source_tv_drift"] = f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS}) AS tok FROM documents
    ),
    t AS (SELECT source, tok FROM toks WHERE tok <> ''),
    sc AS (SELECT source, tok, COUNT(*) AS n_st FROM t GROUP BY source, tok),
    st AS (SELECT source, COUNT(*) AS n_s FROM t GROUP BY source),
    cc AS (SELECT tok, COUNT(*) AS n_c FROM t GROUP BY tok),
    grand AS (SELECT COUNT(*) AS n_all FROM t),
    grid AS (
      SELECT st.source, st.n_s,
             ABS(COALESCE(sc.n_st, 0) * 1000000 // st.n_s
                 - cc.n_c * 1000000 // grand.n_all) AS absdiff_ppm
      FROM st CROSS JOIN cc
      LEFT JOIN sc ON sc.source = st.source AND sc.tok = cc.tok,
      grand
    )
    SELECT source,
           CAST(MAX(n_s) AS BIGINT) AS n_tokens,
           CAST(CAST(SUM(absdiff_ppm) AS BIGINT) // 2 AS BIGINT) AS tv_ppm
    FROM grid GROUP BY source
"""


# --- q223: dedup-aware mixture accounting ---------------------------------------


def q223_dedup_aware_mixture(spark, sf_dir):
    """Dedup-aware mixture accounting: when near-dup clusters span
    sources, naive per-source token counts over-weight syndicated
    content. Each document is down-weighted by its cluster size
    (head-20-token fingerprint, the q199 syndication grain) —
    weight = 1/cluster_n, kept exact in milli-tokens — and each source
    reports raw tokens, effective (dedup-weighted) milli-tokens, and
    the duplication tax in ppm. This is the table a mixture sampler
    uses so a source can't buy weight by re-posting wire copy.

    Scale shape: one fingerprint aggregate (cluster sizes), one
    equi-join back on the fingerprint, one per-source aggregate — the
    same two-linear-shuffle shape as exact dedup, never pairwise."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "source",
        F.size(tokens(F.col("text"))).alias("n_tok"),
        F.md5(
            F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 20))
        ).alias("fp"),
    )
    # ONE fingerprint-keyed exchange: the cluster size is a count window
    # over the fp group — the old size aggregate + join-back evaluated
    # the tokenize+md5 kernel twice and shuffled the stream twice
    joined = fp.withColumn(
        "cluster_n", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    ).select(
        "source",
        "n_tok",
        F.expr("n_tok * 1000 div cluster_n").cast("long").alias("eff_milli"),
    )
    return joined.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("raw_tokens"),
        F.sum("eff_milli").cast("long").alias("eff_tokens_milli"),
        F.expr(
            "(sum(n_tok) * 1000 - sum(eff_milli)) * 1000000"
            " div (sum(n_tok) * 1000)"
        )
        .cast("long")
        .alias("dup_tax_ppm"),
    )


SCALE_QUERIES["q223_dedup_aware_mixture"] = q223_dedup_aware_mixture

SCALE_ORACLES["q223_dedup_aware_mixture"] = f"""
    WITH fp AS (
      SELECT source,
             len({_TOKS}) AS n_tok,
             md5(array_to_string(({_TOKS})[1:20], ' ')) AS fp
      FROM documents
    ),
    sizes AS (SELECT fp, COUNT(*) AS cluster_n FROM fp GROUP BY fp),
    joined AS (
      SELECT f.source, f.n_tok,
             CAST(f.n_tok * 1000 // s.cluster_n AS BIGINT) AS eff_milli
      FROM fp f JOIN sizes s USING (fp)
    )
    SELECT source,
           CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
           CAST(SUM(eff_milli) AS BIGINT) AS eff_tokens_milli,
           CAST((CAST(SUM(n_tok) AS BIGINT) * 1000
                 - CAST(SUM(eff_milli) AS BIGINT)) * 1000000
                // (CAST(SUM(n_tok) AS BIGINT) * 1000) AS BIGINT)
             AS dup_tax_ppm
    FROM joined GROUP BY source
"""


# --- q224: tokenizer application (greedy longest-prefix, zero UDFs) -----------

# subword piece vocabulary shared by the Spark query and the oracle;
# single characters are the implicit fallback (L defaults to 1)
_PIECES = [
    "spark", "stream", "window", "customer", "column", "filter",
    "query", "table", "batch", "order", "group", "value", "scan",
    "sort", "hash", "line", "merge", "join", "data", "fast", "slow",
    "big", "small", "row", "agg", "key", "the", "er", "ow", "in", "st",
]


def n_pieces_col(word):
    """Greedy longest-prefix piece count of ``word`` against _PIECES —
    a pure Catalyst higher-order fold over character positions (inner
    fold finds the longest piece matching at the cursor; single chars
    are the implicit fallback). Zero Python UDFs: the whole scan stays
    JVM-side inside whole-stage codegen."""
    pieces_arr = F.array(*[F.lit(p) for p in _PIECES])

    def longest_at(i):
        return F.aggregate(
            pieces_arr,
            F.lit(1),
            lambda m, p: F.when(
                (F.length(p) > m) & (word.substr(i, F.length(p)) == p),
                F.length(p),
            ).otherwise(m),
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.length(word)),
        F.struct(F.lit(1).alias("nxt"), F.lit(0).alias("cnt")),
        lambda acc, i: F.when(
            i == acc["nxt"],
            F.struct(
                (acc["nxt"] + longest_at(acc["nxt"])).alias("nxt"),
                (acc["cnt"] + F.lit(1)).alias("cnt"),
            ),
        ).otherwise(acc),
        lambda acc: acc["cnt"],
    )


def q224_tokenizer_apply(spark, sf_dir):
    """Tokenizer APPLICATION (the inference side of q190's BPE training
    step): segment every word by greedy longest-prefix match against a
    fixed subword vocabulary — WordPiece-style, single characters as
    fallback — and report per-language fertility (pieces per 100
    words), the number that decides how many tokens a corpus costs
    under a given tokenizer.

    Implemented with ZERO Python UDFs: the greedy scan is a Catalyst
    higher-order fold (``F.aggregate`` over character positions, inner
    fold over the piece vocabulary), run once per DISTINCT word and
    broadcast-joined back — at 100 TB the fold cost tracks the
    vocabulary of distinct words, not the token stream. The oracle
    replays the same greedy walk as a recursive CTE, so a one-position
    mismatch in the longest-prefix rule hash-fails."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("w")
    ).where(F.col("w") != "")
    # ONE tokenize pass (the grain discipline): the distinct-word side
    # and the join-back each re-ran the corpus explode. The
    # (lang, w, cnt) grain is materialized once; the greedy fold still
    # runs once per DISTINCT word and the fertility fold re-weights by
    # cnt (identical integer sums).
    grain = (
        words.groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(checkpoint_corpus)
    )
    distinct_w = grain.select("w").distinct()
    seg = distinct_w.withColumn("n_pieces", n_pieces_col(F.col("w")))
    return (
        grain.join(F.broadcast(seg), "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("total_words"),
            F.sum(F.col("n_pieces") * F.col("cnt"))
            .cast("long")
            .alias("total_pieces"),
        )
        .select(
            "lang",
            "total_words",
            "total_pieces",
            F.expr("total_pieces * 100 div total_words")
            .cast("long")
            .alias("fertility_centi"),
        )
    )


SCALE_QUERIES["q224_tokenizer_apply"] = q224_tokenizer_apply

_PIECES_SQL = "[" + ", ".join(f"'{p}'" for p in _PIECES) + "]"

SCALE_ORACLES["q224_tokenizer_apply"] = f"""
    WITH RECURSIVE inst AS (
      SELECT lang, unnest({_TOKS}) AS w FROM documents
    ),
    wi AS (SELECT lang, w FROM inst WHERE w <> ''),
    words AS (SELECT DISTINCT w FROM wi),
    seg AS (
      SELECT w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cnt
      FROM words
      UNION ALL
      SELECT w,
             pos + GREATEST(1, list_max(list_transform({_PIECES_SQL},
                 p -> CASE WHEN substr(w, CAST(pos AS INT), len(p)) = p
                           THEN len(p) ELSE 1 END))),
             cnt + 1
      FROM seg WHERE pos <= len(w)
    ),
    fin AS (SELECT w, MAX(cnt) AS n_pieces FROM seg GROUP BY w)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS total_words,
           CAST(SUM(n_pieces) AS BIGINT) AS total_pieces,
           CAST(CAST(SUM(n_pieces) AS BIGINT) * 100
                // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS fertility_centi
    FROM wi JOIN fin USING (w)
    GROUP BY lang
"""


# --- q225: two-phase exact median ----------------------------------------------


def q225_exact_median_twophase(spark, sf_dir):
    """EXACT median without a global sort — the 100 TB quantile
    algorithm: phase 1 bins prices into $100 buckets and walks the
    per-group cumulative histogram to locate the bucket holding the
    k-th value (k = (n+1)/2, lower median); phase 2 sorts ONLY that
    bucket's rows and picks the k-th. At scale the second phase
    touches a ~1/bins fraction of the data — everything else is one
    hash aggregate. All arithmetic in exact cents.

    approx_percentile gets you close for free; this is the exact
    answer when 'close' isn't contract-grade (SLA cutoffs, billing)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    )
    binned = li.withColumn("bin", F.expr("cents div 10000"))
    # materialize the phase-1 histogram once (the q231 pattern): its two
    # consumers (cumulative walk, totals) each re-ran the full lineitem
    # scan + aggregate; the checkpoint is the collapsed (flag, bin, c)
    # table — bounded by the bucket domain, never the corpus.
    hist = (
        binned.groupBy("l_returnflag", "bin")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("l_returnflag").orderBy("bin")
    cum = hist.withColumn("cum", F.sum("c").over(w)).withColumn(
        "before", F.col("cum") - F.col("c")
    )
    totals = hist.groupBy("l_returnflag").agg(
        F.sum("c").cast("long").alias("n_rows")
    )
    target = (
        cum.join(totals, "l_returnflag")
        .withColumn("k", F.expr("(n_rows + 1) div 2"))
        .where((F.col("cum") >= F.col("k")) & (F.col("before") < F.col("k")))
        .select(
            "l_returnflag",
            "bin",
            "n_rows",
            (F.col("k") - F.col("before")).alias("offset"),
        )
    )
    in_bin = binned.join(target, ["l_returnflag", "bin"])
    w2 = Window.partitionBy("l_returnflag").orderBy("cents")
    return (
        in_bin.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == F.col("offset"))
        .select(
            "l_returnflag", "n_rows", F.col("cents").alias("median_cents")
        )
    )


SCALE_QUERIES["q225_exact_median_twophase"] = q225_exact_median_twophase

SCALE_ORACLES["q225_exact_median_twophase"] = """
    WITH c AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
      FROM lineitem
    ),
    b AS (SELECT l_returnflag, cents, cents // 10000 AS bin FROM c),
    hist AS (
      SELECT l_returnflag, bin, COUNT(*) AS cnt
      FROM b GROUP BY l_returnflag, bin
    ),
    cum AS (
      SELECT l_returnflag, bin, cnt,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin)
               AS cum
      FROM hist
    ),
    tot AS (
      SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n_rows
      FROM hist GROUP BY l_returnflag
    ),
    target AS (
      SELECT c.l_returnflag, c.bin, t.n_rows,
             (t.n_rows + 1) // 2 - (c.cum - c.cnt) AS off
      FROM cum c JOIN tot t USING (l_returnflag)
      WHERE c.cum >= (t.n_rows + 1) // 2
        AND c.cum - c.cnt < (t.n_rows + 1) // 2
    ),
    ranked AS (
      SELECT b.l_returnflag, t.n_rows, b.cents, t.off,
             ROW_NUMBER() OVER (
               PARTITION BY b.l_returnflag ORDER BY b.cents
             ) AS rn
      FROM b JOIN target t
        ON b.l_returnflag = t.l_returnflag AND b.bin = t.bin
    )
    SELECT l_returnflag, n_rows, cents AS median_cents
    FROM ranked WHERE rn = off
"""


# --- q226: watermark lateness audit ---------------------------------------------


def q226_watermark_lateness_audit(spark, sf_dir):
    """Streaming-config audit run in batch: how much data would each
    candidate watermark budget drop? Arrival delay is modeled per
    event as md5-hash seconds in [0, 600) (deterministic, so the
    oracle replays it); for each watermark in {60 s, 120 s, 300 s} and
    each event type, count events later than the budget and the loss
    rate in ppm. This is the table you read before setting
    ``withWatermark`` — trading state size against completeness.

    Scale shape: one projection + one aggregate per spine entry; the
    3-row watermark spine is a broadcast literal."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (
            F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10)
            .cast("long")
            % 600
        ).alias("delay_s"),
    )
    spine = spark.range(0).sql_ctx.sparkSession.createDataFrame(
        [(60,), (120,), (300,)], "watermark_s long"
    )
    return (
        ev.crossJoin(F.broadcast(spine))
        .groupBy("event_type", "watermark_s")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("delay_s") > F.col("watermark_s"), 1).otherwise(0))
            .cast("long")
            .alias("late_events"),
        )
        .select(
            "event_type",
            "watermark_s",
            "n_events",
            "late_events",
            F.expr("late_events * 1000000 div n_events")
            .cast("long")
            .alias("late_ppm"),
        )
    )


SCALE_QUERIES["q226_watermark_lateness_audit"] = q226_watermark_lateness_audit

SCALE_ORACLES["q226_watermark_lateness_audit"] = """
    WITH ev AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % 600 AS delay_s
      FROM events
    ),
    spine AS (
      SELECT unnest([60, 120, 300]) AS watermark_s
    )
    SELECT event_type, CAST(watermark_s AS BIGINT) AS watermark_s,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN delay_s > watermark_s THEN 1 ELSE 0 END)
                AS BIGINT) AS late_events,
           CAST(CAST(SUM(CASE WHEN delay_s > watermark_s
                         THEN 1 ELSE 0 END) AS BIGINT) * 1000000
                // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS late_ppm
    FROM ev CROSS JOIN spine
    GROUP BY event_type, watermark_s
"""


# --- q227: MaxSim late-interaction scoring --------------------------------------


def q227_maxsim_late_interaction(spark, sf_dir):
    """Late-interaction retrieval (ColBERT-style MaxSim): a multi-vector
    query (4 token vectors, vec_id < 4) scores each multi-vector
    document (groups of 8 corpus vectors, gid = vec_id div 8) as the
    SUM over query tokens of the MAX cosine against any document
    vector. Per-pair similarities are quantized to exact micro units
    before summing so the score is engine-exact; top-5 documents.

    Scale shape: the corpus streams ONCE against the broadcast 4-row
    query side (benign bounded-scoring BNL), then two hash aggregates
    (max per (gid, qtoken), sum per gid) and a top-k window — the same
    shape a production late-interaction re-ranker runs over an
    ANN-pruned candidate set."""
    from adhesive_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.where(F.col("vec_id") >= 8).select(
        F.expr("vec_id div 8").cast("long").alias("gid"), "embedding"
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "gid",
        "qid",
        F.round(cosine(F.col("embedding"), F.col("qvec")) * 1_000_000, 0)
        .cast("long")
        .alias("sim_micro"),
    )
    best = scored.groupBy("gid", "qid").agg(
        F.max("sim_micro").alias("best_micro")
    )
    totals = best.groupBy("gid").agg(
        F.sum("best_micro").cast("long").alias("score_micro")
    )
    # global top-k via orderBy+limit (TakeOrderedAndProject — per-
    # partition heaps, no single-partition window); only the 5
    # survivors pass through the rank window
    top = totals.orderBy(F.col("score_micro").desc(), F.col("gid")).limit(5)
    w = Window.orderBy(F.col("score_micro").desc(), F.col("gid"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "gid", "score_micro", "rank"
    )


SCALE_QUERIES["q227_maxsim_late_interaction"] = q227_maxsim_late_interaction

SCALE_ORACLES["q227_maxsim_late_interaction"] = """
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
      FROM embeddings WHERE vec_id < 4
    ),
    c AS (
      SELECT CAST(vec_id // 8 AS BIGINT) AS gid,
             embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id >= 8
    ),
    scored AS (
      SELECT c.gid, q.qid,
             CAST(ROUND(list_cosine_similarity(c.cvec, q.qvec) * 1000000,
                        0) AS BIGINT) AS sim_micro
      FROM c CROSS JOIN q
    ),
    best AS (
      SELECT gid, qid, MAX(sim_micro) AS best_micro
      FROM scored GROUP BY gid, qid
    ),
    totals AS (
      SELECT gid, CAST(SUM(best_micro) AS BIGINT) AS score_micro
      FROM best GROUP BY gid
    ),
    ranked AS (
      SELECT gid, score_micro,
             ROW_NUMBER() OVER (
               ORDER BY score_micro DESC, gid
             ) AS rank
      FROM totals
    )
    SELECT gid, score_micro, rank FROM ranked WHERE rank <= 5
"""


# --- q228: label-propagation communities ----------------------------------------


def q228_label_propagation(spark, sf_dir):
    """Community detection by semi-synchronous label propagation over
    the customer↔supplier trade graph (the q106 edge set): two
    deterministic rounds where every node adopts its neighborhood's
    MAJORITY label (ties → lexicographic min), labels initialized to
    node ids. Where connected components (q46) answers "what touches
    what", label propagation finds DENSE groups — the trading blocs a
    mixture/cap policy treats as one unit. Output: community label and
    member count for every multi-node community after round 2.

    Scale shape: each round is one neighbor join + one majority
    aggregate (count per (node, label) + argmax window) — all
    hash-partitioned by node, no global structure; rounds are unrolled
    so the oracle replays the identical trajectory."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    # one materialization of the distinct trade-pair set: edges (and
    # through it labels + both unrolled rounds) re-derive from this
    # subtree, which would otherwise re-run the orders x lineitem join
    # six times in one plan (the checkpointed rows are the same bytes
    # the edge shuffle itself carries)
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias(
                "a"
            ),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
                "b"
            ),
        )
        .distinct()
        .transform(checkpoint_corpus)
    )
    edges = pairs.union(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = edges.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )

    def one_round(lbl):
        votes = (
            edges.join(
                lbl.withColumnRenamed("node", "b2"),
                F.col("b") == F.col("b2"),
            )
            .groupBy("a", "label")
            .agg(F.count("*").alias("v"))
        )
        w = Window.partitionBy("a").orderBy(
            F.col("v").desc(), F.col("label")
        )
        return (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("a").alias("node"), "label")
        )

    final = one_round(one_round(labels))
    return (
        final.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") >= 2)
    )


SCALE_QUERIES["q228_label_propagation"] = q228_label_propagation

_LP_EDGES = """
    pairs AS (
      SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS a,
                      's:' || CAST(l.l_suppkey AS VARCHAR) AS b
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
      SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs
    ),
    l0 AS (
      SELECT DISTINCT a AS node, a AS label FROM edges
    )
"""


def _lp_round(prev: str, out: str) -> str:
    return f"""
    {out}_votes AS (
      SELECT e.a, p.label, COUNT(*) AS v
      FROM edges e JOIN {prev} p ON e.b = p.node
      GROUP BY e.a, p.label
    ),
    {out} AS (
      SELECT a AS node, label FROM (
        SELECT a, label,
               ROW_NUMBER() OVER (
                 PARTITION BY a ORDER BY v DESC, label
               ) AS rn
        FROM {out}_votes
      ) WHERE rn = 1
    )
"""


SCALE_ORACLES["q228_label_propagation"] = f"""
    WITH {_LP_EDGES},
    {_lp_round("l0", "l1")},
    {_lp_round("l1", "l2")}
    SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l2 GROUP BY label HAVING COUNT(*) >= 2
"""


# --- q229: exact nDCG@10 retrieval eval ------------------------------------------

# 1e6 / log2(i+1), i = 1..10, rounded — the DCG position weights as
# exact integer literals shared by both engines (floats never touch
# the metric)
_NDCG_W = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]


def q229_ndcg_eval(spark, sf_dir):
    """Retrieval quality: EXACT nDCG@10 per query over the cosine
    ranking, relevance = label match (the q152/q153 recall/MRR setup,
    completed with the rank-discounted metric). The 1/log2(i+1)
    discount weights are precomputed integer literals (micro units),
    so DCG, ideal DCG, and their ratio are pure integer arithmetic —
    an inherently-float IR metric made bit-reproducible.

    Scale shape: one bounded broadcast scoring scan (10 query
    vectors), a per-query top-10 window, one aggregate."""
    from adhesive_spark.operators.similarity import knn_bruteforce

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    corpus = emb.where(F.col("vec_id") >= 10)
    top = knn_bruteforce(
        corpus, queries.select("query_id", "embedding"), k=10
    )
    qlab = queries.select("query_id", F.col("label").alias("qlabel"))
    clab = emb.select(F.col("vec_id"), F.col("label").alias("clabel"))
    w_arr = F.array(*[F.lit(w) for w in _NDCG_W])
    scored = (
        top.join(F.broadcast(qlab), "query_id")
        .join(clab, "vec_id")
        .select(
            "query_id",
            "rank",
            F.when(F.col("clabel") == F.col("qlabel"), 1)
            .otherwise(0)
            .alias("rel"),
            F.element_at(w_arr, F.col("rank")).alias("w"),
        )
    )
    per_q = scored.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_rel"),
        F.sum(F.col("rel") * F.col("w")).cast("long").alias("dcg_micro"),
    )
    # ideal DCG for binary relevance: the first n_rel weights
    idcg = F.aggregate(
        F.slice(w_arr, 1, F.col("n_rel").cast("int")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return per_q.withColumn("idcg_micro", idcg).select(
        "query_id",
        "n_rel",
        F.when(
            F.col("idcg_micro") > 0,
            F.expr("dcg_micro * 1000 div idcg_micro"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("ndcg_milli"),
    )


SCALE_QUERIES["q229_ndcg_eval"] = q229_ndcg_eval

_NDCG_W_SQL = "[" + ", ".join(str(w) for w in _NDCG_W) + "]"

SCALE_ORACLES["q229_ndcg_eval"] = f"""
    WITH top AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(
                            c.embedding::DOUBLE[],
                            q.embedding::DOUBLE[]), 6) DESC,
                          c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id >= 10
        WHERE q.vec_id < 10
      ) WHERE rank <= 10
    ),
    ws AS (SELECT {_NDCG_W_SQL} AS w),
    scored AS (
      SELECT t.query_id, t.rank,
             CASE WHEN cl.label = ql.label THEN 1 ELSE 0 END AS rel,
             ws.w[t.rank] AS wgt
      FROM top t
      JOIN embeddings ql ON ql.vec_id = t.query_id
      JOIN embeddings cl ON cl.vec_id = t.vec_id, ws
    ),
    per_q AS (
      SELECT query_id,
             CAST(SUM(rel) AS BIGINT) AS n_rel,
             CAST(SUM(rel * wgt) AS BIGINT) AS dcg_micro
      FROM scored GROUP BY query_id
    ),
    with_idcg AS (
      SELECT query_id, n_rel, dcg_micro,
             CAST(COALESCE(list_sum((SELECT w FROM ws)[1:CAST(n_rel AS INT)]), 0)
                  AS BIGINT) AS idcg_micro
      FROM per_q
    )
    SELECT query_id, n_rel,
           CAST(CASE WHEN idcg_micro > 0
                     THEN dcg_micro * 1000 // idcg_micro
                     ELSE 0 END AS BIGINT) AS ndcg_milli
    FROM with_idcg
"""


# --- q230: masked-span (denoising) objective plan ---------------------------------


def q230_masked_span_plan(spark, sf_dir):
    """Span-corruption planning for a T5-style denoising objective:
    tokens are grouped into runs of 3, and a run is masked iff a
    deterministic hash of (doc_id, run) lands below 3/20 — i.e. 15 %
    expected corruption with mean span 3, reproducible on any cluster
    (and in the oracle). Output per language: token count, masked
    token count, span count, and realized corruption ppm — the sanity
    table checked before an expensive pretraining run.

    Scale shape: one posexplode + one aggregate; the mask decision is
    pure column hashing, no RNG state, no UDFs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos", "tok"),
    ).where(F.col("tok") != "")
    marked = toks.select(
        "lang",
        "doc_id",
        F.expr("pos div 3").alias("run"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("doc_id"),
                            F.expr("pos div 3"),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % 20
            < 3
        ).alias("masked"),
    )
    return marked.groupBy("lang").agg(
        F.count("*").alias("total_tokens"),
        F.sum(F.when(F.col("masked"), 1).otherwise(0))
        .cast("long")
        .alias("masked_tokens"),
        F.countDistinct(
            F.when(F.col("masked"), F.concat_ws("#", "doc_id", "run"))
        ).alias("n_spans"),
    ).select(
        "lang",
        "total_tokens",
        "masked_tokens",
        "n_spans",
        F.expr("masked_tokens * 1000000 div total_tokens")
        .cast("long")
        .alias("corruption_ppm"),
    )


SCALE_QUERIES["q230_masked_span_plan"] = q230_masked_span_plan

SCALE_ORACLES["q230_masked_span_plan"] = f"""
    WITH toks AS (
      SELECT lang, doc_id, t.tok, t.pos - 1 AS pos
      FROM documents,
           LATERAL (
             SELECT unnest({_TOKS}) AS tok,
                    generate_subscripts({_TOKS}, 1) AS pos
           ) t
    ),
    t AS (SELECT lang, doc_id, pos FROM toks WHERE tok <> ''),
    marked AS (
      SELECT lang, doc_id, pos // 3 AS run,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                    || CAST(pos // 3 AS VARCHAR)), 1, 4)) AS BIGINT)
              % 20) < 3 AS masked
      FROM t
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
             AS masked_tokens,
           CAST(COUNT(DISTINCT CASE WHEN masked
                 THEN CAST(doc_id AS VARCHAR) || '#'
                      || CAST(run AS VARCHAR) END) AS BIGINT) AS n_spans,
           CAST(CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
                * 1000000 // CAST(COUNT(*) AS BIGINT) AS BIGINT)
             AS corruption_ppm
    FROM marked GROUP BY lang
"""


# --- q231: exact multi-quantile ladder -------------------------------------------

# (name, numerator, denominator) — k-th order statistic k = ceil(q·n)
_QUANTS = [("p50", 50, 100), ("p90", 90, 100), ("p99", 99, 100)]


def q231_exact_quantile_ladder(spark, sf_dir):
    """EXACT p50/p90/p99 latency ladder per event type — the q225
    two-phase histogram algorithm generalized to a quantile SPINE: one
    binned histogram pass locates each quantile's bucket, a single
    per-bucket rank pass reads all three order statistics. k = ⌈q·n⌉
    in pure integer math; values quantized to milli units per row.

    At 100 TB this is the exact-SLO query: the data is sorted only
    inside the (few) buckets that contain a requested quantile —
    everything else stays a hash aggregate. approx_percentile trades
    this exactness for one pass; contracts (p99 SLOs) often can't."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v_milli"),
    )
    from adhesive_spark.operators.quality import exact_quantile_ladder

    return exact_quantile_ladder(
        ev, "event_type", "v_milli", _QUANTS
    ).select(
        "event_type", "quantile", "n_rows",
        F.col("value").alias("value_milli"),
    )


SCALE_QUERIES["q231_exact_quantile_ladder"] = q231_exact_quantile_ladder

_QUANTS_SQL = ", ".join(
    f"('{name}', {num}, {den})" for name, num, den in _QUANTS
)

SCALE_ORACLES["q231_exact_quantile_ladder"] = f"""
    WITH ev AS (
      SELECT event_type,
             CAST(ROUND(value * 1000, 0) AS BIGINT) AS v_milli
      FROM events
    ),
    b AS (SELECT event_type, v_milli, v_milli // 1000 AS bin FROM ev),
    hist AS (
      SELECT event_type, bin, COUNT(*) AS c
      FROM b GROUP BY event_type, bin
    ),
    cum AS (
      SELECT event_type, bin, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum
      FROM hist
    ),
    tot AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_rows
      FROM hist GROUP BY event_type
    ),
    spine(quantile, num, den) AS (VALUES {_QUANTS_SQL}),
    targets AS (
      SELECT c.event_type, c.bin, s.quantile, t.n_rows,
             (t.n_rows * s.num + s.den - 1) // s.den
               - (c.cum - c.c) AS off
      FROM cum c JOIN tot t USING (event_type) CROSS JOIN spine s
      WHERE c.cum >= (t.n_rows * s.num + s.den - 1) // s.den
        AND c.cum - c.c < (t.n_rows * s.num + s.den - 1) // s.den
    ),
    ranked AS (
      SELECT event_type, bin, v_milli,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, bin ORDER BY v_milli
             ) AS rn
      FROM b
    )
    SELECT t.event_type, t.quantile, t.n_rows,
           r.v_milli AS value_milli
    FROM targets t
    JOIN ranked r
      ON r.event_type = t.event_type AND r.bin = t.bin AND r.rn = t.off
"""


# --- q232: matryoshka truncation rank-distortion audit ----------------------------


def q232_matryoshka_rank_audit(spark, sf_dir):
    """Embedding-truncation QA (matryoshka-style): how much does
    cutting vectors from 64 to 16 dimensions distort the retrieval
    ranking? For each query's full-precision top-10, re-rank the SAME
    candidates by 16-dim cosine and report Spearman's footrule (sum of
    |rank shift|, an exact integer in [0, 50]) plus how many of the
    full top-3 survive in the truncated top-3. The table that decides
    whether a cheap low-dim prefilter is safe.

    Scale shape: one bounded broadcast scoring scan computes BOTH
    similarities in the same pass; ranking windows are per query over
    10 rows."""
    from adhesive_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.where(F.col("vec_id") >= 10).select("vec_id", "embedding")
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias(
            "sim_full"
        ),
        F.round(
            cosine(
                F.slice(F.col("embedding"), 1, 16),
                F.slice(F.col("qvec"), 1, 16),
            ),
            6,
        ).alias("sim_trunc"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("sim_full").desc(), F.col("vec_id")
    )
    top = scored.withColumn("rank_full", F.row_number().over(wf)).where(
        F.col("rank_full") <= 10
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("sim_trunc").desc(), F.col("vec_id")
    )
    reranked = top.withColumn("rank_trunc", F.row_number().over(wt))
    return reranked.groupBy("query_id").agg(
        F.sum(F.abs(F.col("rank_full") - F.col("rank_trunc")))
        .cast("long")
        .alias("footrule"),
        F.sum(
            F.when((F.col("rank_full") <= 3) & (F.col("rank_trunc") <= 3), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("top3_kept"),
    )


SCALE_QUERIES["q232_matryoshka_rank_audit"] = q232_matryoshka_rank_audit

SCALE_ORACLES["q232_matryoshka_rank_audit"] = """
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id,
             round(list_cosine_similarity(c.embedding::DOUBLE[],
                                          q.embedding::DOUBLE[]), 6)
               AS sim_full,
             round(list_cosine_similarity((c.embedding::DOUBLE[])[1:16],
                                          (q.embedding::DOUBLE[])[1:16]),
                   6) AS sim_trunc
      FROM embeddings q JOIN embeddings c ON c.vec_id >= 10
      WHERE q.vec_id < 10
    ),
    top AS (
      SELECT query_id, vec_id, sim_trunc,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY sim_full DESC, vec_id
             ) AS rank_full
      FROM scored
      QUALIFY rank_full <= 10
    ),
    reranked AS (
      SELECT query_id, rank_full,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY sim_trunc DESC, vec_id
             ) AS rank_trunc
      FROM top
    )
    SELECT query_id,
           CAST(SUM(ABS(rank_full - rank_trunc)) AS BIGINT) AS footrule,
           CAST(SUM(CASE WHEN rank_full <= 3 AND rank_trunc <= 3
                    THEN 1 ELSE 0 END) AS BIGINT) AS top3_kept
    FROM reranked GROUP BY query_id
"""


# --- q233: token-budget fill plan ---------------------------------------------


def q233_token_budget_fill(spark, sf_dir):
    """Quality-greedy token-budget fill: given a budget of 40 % of the
    corpus's tokens, take whole sources in descending mean-quality
    order until the budget runs out, taking a partial slice of the
    marginal source. Output per source: mean quality (1e-4 units),
    its token mass, tokens already committed before it, tokens taken
    from it, and its fill rate in ppm — the selection plan a curated
    pretraining mix starts from (q82/q126 then set per-source RATES;
    this decides WHICH sources are in).

    Scale shape: the per-doc pass is one hash aggregate to source
    grain; the greedy sweep's window runs on the aggregated source
    table (tens of rows at any corpus size), not on the data."""
    from adhesive_spark.operators.text import quality_score, scaled_long

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(tokens(F.col("text"))).alias("n_tok"),
        scaled_long(quality_score(F.col("text")), 4).alias("q_s"),
    )
    per_src = per_doc.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("tokens"),
        F.expr("sum(q_s) div count(*)").cast("long").alias("avg_q"),
    )
    totals = per_src.agg(F.sum("tokens").cast("long").alias("total_tok"))
    w = Window.orderBy(F.col("avg_q").desc(), F.col("source")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    planned = (
        per_src.crossJoin(F.broadcast(totals))
        .withColumn("budget", F.expr("total_tok * 40 div 100"))
        .withColumn(
            "cum_before",
            F.coalesce(F.sum("tokens").over(w), F.lit(0)).cast("long"),
        )
    )
    return planned.select(
        "source",
        "avg_q",
        "tokens",
        "cum_before",
        F.greatest(
            F.lit(0),
            F.least(F.col("tokens"), F.col("budget") - F.col("cum_before")),
        )
        .cast("long")
        .alias("take_tokens"),
    ).withColumn(
        "fill_ppm",
        F.expr("take_tokens * 1000000 div tokens").cast("long"),
    )


SCALE_QUERIES["q233_token_budget_fill"] = q233_token_budget_fill


def _q233_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT source, {_TOKS} AS toks, text FROM documents
    ),
    per_doc AS (
      SELECT source, len(toks) AS n_tok,
             CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS q_s
      FROM d
    ),
    per_src AS (
      SELECT source,
             CAST(SUM(n_tok) AS BIGINT) AS tokens,
             CAST(CAST(SUM(q_s) AS BIGINT) // COUNT(*) AS BIGINT) AS avg_q
      FROM per_doc GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tok FROM per_src),
    planned AS (
      SELECT p.source, p.avg_q, p.tokens,
             t.total_tok * 40 // 100 AS budget,
             CAST(COALESCE(SUM(p.tokens) OVER (
               ORDER BY p.avg_q DESC, p.source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum_before
      FROM per_src p, tot t
    )
    SELECT source, avg_q, tokens, cum_before,
           CAST(GREATEST(0, LEAST(tokens, budget - cum_before)) AS BIGINT)
             AS take_tokens,
           CAST(CAST(GREATEST(0, LEAST(tokens, budget - cum_before))
                AS BIGINT) * 1000000 // tokens AS BIGINT) AS fill_ppm
    FROM planned
"""


SCALE_ORACLES["q233_token_budget_fill"] = _q233_oracle()


# --- q234: time-windowed dedup audit ---------------------------------------------


def q234_windowed_dedup_audit(spark, sf_dir):
    """Resnapshot-safe dedup accounting: fingerprints are deduplicated
    only WITHIN a calendar day (epoch-day bucket), the policy that
    keeps periodic re-crawls/re-snapshots from deleting legitimate
    recurring records the way global dedup (q30) would. Output per
    day: event volume, surviving distinct fingerprints, and the
    duplicate rate in ppm — the daily ingest-health panel.

    Scale shape: one hash aggregate on (day, fp); adding the day to
    the dedup key keeps state bounded by the window instead of the
    corpus' lifetime — the batch analog of
    ``dropDuplicatesWithinWatermark``."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) div 86400000000").alias("day_num"),
        F.md5(
            F.concat_ws(
                ":",
                F.col("user_id"),
                F.col("event_type"),
                F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)"),
            )
        ).alias("fp"),
    )
    return (
        ev.groupBy("day_num")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("fp").alias("n_kept"),
        )
        .select(
            "day_num",
            "n_events",
            "n_kept",
            F.expr("(n_events - n_kept) * 1000000 div n_events")
            .cast("long")
            .alias("dup_ppm"),
        )
    )


SCALE_QUERIES["q234_windowed_dedup_audit"] = q234_windowed_dedup_audit

SCALE_ORACLES["q234_windowed_dedup_audit"] = """
    WITH ev AS (
      SELECT epoch_us(ts) // 86400000000 AS day_num,
             md5(CAST(user_id AS VARCHAR) || ':' || event_type || ':'
                 || CAST(CAST(ROUND(value * 1000, 0) AS BIGINT)
                         AS VARCHAR)) AS fp
      FROM events
    )
    SELECT CAST(day_num AS BIGINT) AS day_num,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_kept,
           CAST((COUNT(*) - COUNT(DISTINCT fp)) * 1000000 // COUNT(*)
                AS BIGINT) AS dup_ppm
    FROM ev GROUP BY day_num
"""


# --- q235: conversion-latency quantiles --------------------------------------------


def q235_conversion_latency(spark, sf_dir):
    """Click→purchase conversion latency, summarized as EXACT
    p50/p90/p99: each user's first click and first purchase AFTER that
    click form one conversion; latencies (whole seconds) feed the
    two-phase quantile ladder. The composition a funnel dashboard
    needs once 'how many convert' (q105) is answered and 'how fast'
    becomes the question.

    Scale shape: two per-user min-aggregates and a ladder over the
    (tiny) conversion set — no window over raw events, no self-join."""
    from adhesive_spark.operators.quality import exact_quantile_ladder

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    first_click = ev.where(F.col("event_type") == "click").groupBy(
        "user_id"
    ).agg(F.min("us").alias("click_us"))
    purchases = ev.where(F.col("event_type") == "purchase")
    conv = (
        purchases.join(first_click, "user_id")
        .where(F.col("us") >= F.col("click_us"))
        .groupBy("user_id")
        .agg(
            F.min(F.col("us") - F.col("click_us")).alias("latency_us")
        )
        .select(
            F.lit("all").alias("cohort"),
            F.expr("latency_us div 1000000").cast("long").alias(
                "latency_s"
            ),
        )
    )
    return exact_quantile_ladder(
        conv, "cohort", "latency_s", _QUANTS
    ).select(
        "cohort",
        "quantile",
        F.col("n_rows").alias("n_conversions"),
        F.col("value").alias("latency_s"),
    )


SCALE_QUERIES["q235_conversion_latency"] = q235_conversion_latency

SCALE_ORACLES["q235_conversion_latency"] = f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ),
    first_click AS (
      SELECT user_id, MIN(us) AS click_us
      FROM ev WHERE event_type = 'click' GROUP BY user_id
    ),
    conv AS (
      SELECT e.user_id,
             CAST(MIN(e.us - f.click_us) // 1000000 AS BIGINT)
               AS latency_s
      FROM ev e JOIN first_click f USING (user_id)
      WHERE e.event_type = 'purchase' AND e.us >= f.click_us
      GROUP BY e.user_id
    ),
    b AS (SELECT 'all' AS cohort, latency_s,
                 latency_s // 1000 AS bin FROM conv),
    hist AS (
      SELECT cohort, bin, COUNT(*) AS c FROM b GROUP BY cohort, bin
    ),
    cum AS (
      SELECT cohort, bin, c,
             SUM(c) OVER (PARTITION BY cohort ORDER BY bin) AS cum
      FROM hist
    ),
    tot AS (
      SELECT cohort, CAST(SUM(c) AS BIGINT) AS n_rows
      FROM hist GROUP BY cohort
    ),
    spine(quantile, num, den) AS (VALUES {_QUANTS_SQL}),
    targets AS (
      SELECT c.cohort, c.bin, s.quantile, t.n_rows,
             (t.n_rows * s.num + s.den - 1) // s.den
               - (c.cum - c.c) AS off
      FROM cum c JOIN tot t USING (cohort) CROSS JOIN spine s
      WHERE c.cum >= (t.n_rows * s.num + s.den - 1) // s.den
        AND c.cum - c.c < (t.n_rows * s.num + s.den - 1) // s.den
    ),
    ranked AS (
      SELECT cohort, bin, latency_s,
             ROW_NUMBER() OVER (
               PARTITION BY cohort, bin ORDER BY latency_s
             ) AS rn
      FROM b
    )
    SELECT t.cohort, t.quantile,
           t.n_rows AS n_conversions,
           r.latency_s
    FROM targets t
    JOIN ranked r
      ON r.cohort = t.cohort AND r.bin = t.bin AND r.rn = t.off
"""


# --- q236: corpus-level MinHash source-similarity matrix ---------------------------


def q236_source_minhash_matrix(spark, sf_dir):
    """Corpus-level similarity matrix: estimated token-set Jaccard
    between every PAIR of sources from 32-permutation MinHash
    signatures computed over each source's distinct-token set — the
    doc-level LSH machinery (q37) lifted to whole corpora, the panel
    that flags mirror/aggregator source pairs before doc-level dedup
    even runs. Signature agreement/32 estimates Jaccard; exact for
    identical sources, unbiased elsewhere.

    Scale shape: tokens aggregate to (source, perm) grain — 20×32
    rows regardless of corpus size — then a 190-pair self-join on the
    signature table. Nothing pairwise ever touches raw data. Uses the
    same portable md5 base hashes and permutation coefficients as the
    doc-level pipeline (operators/dedup.py), so the oracle replays
    signatures exactly."""
    from adhesive_spark.operators.dedup import (
        _MERSENNE,
        _perm_coeffs,
        portable_hash32,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .where(F.col("tok") != "")
        .select("source", "tok")
        .distinct()
        .select("source", portable_hash32(F.col("tok")).alias("h"))
    )
    coeffs = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(_perm_coeffs(32))],
        "perm int, a long, b long",
    )
    # materialize the signature table once: it is 20×32 rows by
    # contract, but the perm-keyed SELF-join evaluated it twice — each
    # evaluation re-running the corpus tokenize + distinct + 32-perm min
    sig = (
        base.crossJoin(F.broadcast(coeffs))
        .groupBy("source", "perm")
        .agg(
            F.min((F.col("h") * F.col("a") + F.col("b")) % F.lit(_MERSENNE))
            .alias("mh")
        )
        .localCheckpoint(eager=True)
    )
    s2 = sig.select(
        F.col("source").alias("source_b"),
        "perm",
        F.col("mh").alias("mh_b"),
    )
    return (
        sig.join(s2, "perm")
        .where(F.col("source") < F.col("source_b"))
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(
            F.sum(F.when(F.col("mh") == F.col("mh_b"), 1).otherwise(0))
            .cast("long")
            .alias("agree"),
        )
        .select(
            "source_a",
            "source_b",
            "agree",
            F.expr("agree * 1000 div 32").cast("long").alias(
                "est_jaccard_milli"
            ),
        )
    )


SCALE_QUERIES["q236_source_minhash_matrix"] = q236_source_minhash_matrix


def _q236_oracle() -> str:
    from adhesive_spark.operators.dedup import _MERSENNE, _perm_coeffs

    coeff_rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_perm_coeffs(32))
    )
    return f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS}) AS tok FROM documents
    ),
    base AS (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
      FROM (SELECT DISTINCT source, tok FROM toks WHERE tok <> '')
    ),
    coeffs(perm, a, b) AS (VALUES {coeff_rows}),
    sig AS (
      SELECT source, perm, MIN((h * a + b) % {_MERSENNE}) AS mh
      FROM base CROSS JOIN coeffs
      GROUP BY source, perm
    )
    SELECT s1.source AS source_a, s2.source AS source_b,
           CAST(SUM(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) AS BIGINT)
             AS agree,
           CAST(CAST(SUM(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END)
                AS BIGINT) * 1000 // 32 AS BIGINT) AS est_jaccard_milli
    FROM sig s1 JOIN sig s2
      ON s1.perm = s2.perm AND s1.source < s2.source
    GROUP BY s1.source, s2.source
"""


SCALE_ORACLES["q236_source_minhash_matrix"] = _q236_oracle()


# --- q237: Simpson behavioral diversity ---------------------------------------------


def q237_simpson_diversity(spark, sf_dir):
    """Per-user behavioral diversity as the unbiased Gini–Simpson
    index: 1 − Σ cᵢ(cᵢ−1)/(n(n−1)) over the user's event-type counts,
    in exact ppm (the entropy-style diversity panel WITHOUT entropy's
    floats — the log-free metric engines can agree on bit-for-bit).
    0 = all events one type; →1 = evenly spread.

    Scale shape: two hash aggregates, (user, type) then user."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("c")
    )
    return (
        per_type.groupBy("user_id")
        .agg(
            F.sum("c").cast("long").alias("n_events"),
            F.sum(F.expr("c * (c - 1)")).cast("long").alias("pair_mass"),
        )
        .select(
            "user_id",
            "n_events",
            F.when(
                F.col("n_events") >= 2,
                F.lit(1_000_000)
                - F.expr(
                    "pair_mass * 1000000 div (n_events * (n_events - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("diversity_ppm"),
        )
    )


SCALE_QUERIES["q237_simpson_diversity"] = q237_simpson_diversity

SCALE_ORACLES["q237_simpson_diversity"] = """
    WITH per_type AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ),
    per_user AS (
      SELECT user_id,
             CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(SUM(c * (c - 1)) AS BIGINT) AS pair_mass
      FROM per_type GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(CASE WHEN n_events >= 2
                THEN 1000000 - pair_mass * 1000000
                     // (n_events * (n_events - 1))
                ELSE 0 END AS BIGINT) AS diversity_ppm
    FROM per_user
"""


# --- q238: bucketed co-located join ---------------------------------------------------


def q238_bucketed_colocated_join(spark, sf_dir):
    """Shuffle-free big–big join via bucketing: orders and lineitem are
    persisted bucketed 16 ways on the SAME join key, so the revenue
    join reads co-located buckets with NO Exchange on either side (the
    pre-partitioned-join contract tests/test_plans.py asserts for the
    2-table case — here it carries a full aggregate query). At 100 TB
    this is THE repeated-join amortization: pay one layout write, skip
    the join shuffle on every subsequent run.

    Output: exact revenue cents and line counts per order priority."""
    from adhesive_spark.sources.formats import write_bucketed_table
    from adhesive_spark.sources.fsutil import hadoop_fs

    wh = spark.conf.get("spark.sql.warehouse.dir")
    for tbl in ("q238_orders_b", "q238_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        fs, loc, _ = hadoop_fs(spark, f"{wh}/{tbl}")
        if fs.exists(loc):
            fs.delete(loc, True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)"
            " AS BIGINT)"
        ).alias("rev_cents"),
    )
    write_bucketed_table(
        orders, "q238_orders_b", bucket_cols=["o_orderkey"], n_buckets=16
    )
    write_bucketed_table(
        li, "q238_lineitem_b", bucket_cols=["l_orderkey"], n_buckets=16
    )
    o = spark.table("q238_orders_b")
    l = spark.table("q238_lineitem_b")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("rev_cents").cast("long").alias("revenue_cents"),
        )
    )


SCALE_QUERIES["q238_bucketed_colocated_join"] = q238_bucketed_colocated_join

SCALE_ORACLES["q238_bucketed_colocated_join"] = """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                               * 100, 0) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
"""


# --- q239: Zipf power-law audit ------------------------------------------------------


def q239_zipf_audit(spark, sf_dir):
    """Vocabulary power-law (Zipf) audit in pure integers: bucket token
    frequencies by integer log2 (length of the binary representation —
    identical in both engines), count vocabulary TYPES per bucket, and
    fit the log2-log2 slope with the exact normal-equation OLS (the
    q204 machinery). A healthy natural corpus slopes near −1 (many
    rare types, few frequent ones); template/machine-generated floods
    flatten or INVERT it — the one-row corpus-shape alarm. On this
    repo's synthetic closed-lexicon testdata the slope comes out
    POSITIVE, i.e. the alarm correctly fires (see
    tests/test_scale_ops.py::test_zipf_alarm_fires_on_synthetic).

    Scale shape: one explode + two hash aggregates to a ≤64-row bucket
    table; the regression runs on that tiny table in one aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    buckets = freq.select(
        F.length(F.conv(F.col("f"), 10, 2)).cast("long").alias("b")
    ).groupBy("b").agg(F.count("*").alias("n_types"))
    pts = buckets.select(
        "b",
        F.length(F.conv(F.col("n_types"), 10, 2)).cast("long").alias("y"),
    )
    agg = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("b").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("b * y")).cast("long").alias("sxy"),
        F.sum(F.expr("b * b")).cast("long").alias("sxx"),
    )
    return agg.select(
        F.col("n").alias("n_points"),
        F.expr(
            "(n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx)"
        )
        .cast("long")
        .alias("slope_milli"),
    )


SCALE_QUERIES["q239_zipf_audit"] = q239_zipf_audit

SCALE_ORACLES["q239_zipf_audit"] = f"""
    WITH toks AS (
      SELECT unnest({_TOKS}) AS tok FROM documents
    ),
    freq AS (
      SELECT tok, COUNT(*) AS f FROM toks WHERE tok <> '' GROUP BY tok
    ),
    buckets AS (
      SELECT CAST(length(bin(f)) AS BIGINT) AS b,
             COUNT(*) AS n_types
      FROM freq GROUP BY 1
    ),
    pts AS (
      SELECT b, CAST(length(bin(n_types)) AS BIGINT) AS y FROM buckets
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(b) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(b * y) AS BIGINT) AS sxy,
             CAST(SUM(b * b) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n AS n_points,
           CAST((n * sxy - sx * sy) * 1000
                // (n * sxx - sx * sx) AS BIGINT) AS slope_milli
    FROM agg
"""


# --- q240: hierarchical revenue shares -------------------------------------------------


def q240_hierarchical_share(spark, sf_dir):
    """Percent-of-parent rollup: revenue per (region, nation) with each
    nation's share of its region and each region's share of the total,
    in exact ppm over exact cents — the drill-down tree a revenue
    dashboard renders, computed in one pass (shares are windows over
    the ~25-row aggregate, not the fact table).

    Scale shape: the star join aggregates facts to (region, nation)
    grain first; both share windows run on that tiny rollup."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)"
            " AS BIGINT)"
        ).alias("cents"),
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    rolled = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("cents").cast("long").alias("revenue_cents"))
    )
    w_region = Window.partitionBy("r_name")
    w_all = Window.partitionBy()
    shared = rolled.select(
        "r_name",
        "n_name",
        "revenue_cents",
        F.sum("revenue_cents").over(w_region).alias("region_cents"),
        F.sum("revenue_cents").over(w_all).alias("total_cents"),
    )
    return shared.select(
        "r_name",
        "n_name",
        "revenue_cents",
        F.expr("revenue_cents * 1000000 div region_cents")
        .cast("long")
        .alias("share_of_region_ppm"),
        F.expr("region_cents * 1000000 div total_cents")
        .cast("long")
        .alias("region_share_ppm"),
    )


SCALE_QUERIES["q240_hierarchical_share"] = q240_hierarchical_share

SCALE_ORACLES["q240_hierarchical_share"] = """
    WITH rolled AS (
      SELECT r.r_name, n.n_name,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                 * 100, 0) AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    ),
    shared AS (
      SELECT r_name, n_name, revenue_cents,
             CAST(SUM(revenue_cents) OVER (PARTITION BY r_name)
                  AS BIGINT) AS region_cents,
             CAST(SUM(revenue_cents) OVER () AS BIGINT) AS total_cents
      FROM rolled
    )
    SELECT r_name, n_name, revenue_cents,
           CAST(revenue_cents * 1000000 // region_cents AS BIGINT)
             AS share_of_region_ppm,
           CAST(region_cents * 1000000 // total_cents AS BIGINT)
             AS region_share_ppm
    FROM shared
"""


# --- q409/q410: gap-sessionization as a mergeable interval sweep ---------------


_SESSION_GAP_US = 600_000_000  # 10 min, in exact unix microseconds


def _session_spans_query(spark, sf_dir, engine):
    """Per-user gap sessions via ``operators.asof.session_spans``: an
    event at ``t`` holds its session open through ``t + gap - 1``, so a
    new session starts iff the next event arrives ``>= gap`` after the
    previous one (``F.session_window``'s boundary rule, machine-checked
    in tests/test_scale_ops.py). Output per user: session count, event
    count (an additive measure summed through the island merge) and
    ``span_us`` = Σ per-session (last event − first event) — all exact
    integer microsecond arithmetic.

    Scale shape (default engine): one user-key window sweep + one
    aggregate, no self-join. The ``salted`` twin (q410) routes the SAME
    semantics through ``operators.skew.salted_sweep`` — sweep per
    (user, endpoint-hash salt) behind a pinned-width exchange, then
    merge the per-salt partials — the whale-key rescue for degenerate
    key spaces (a 1 B-row/150-key fixture OOMs the plain sweep at the
    10 000× stress rung; the salted engine survives at 232.9 s).
    Identical results by hierarchical mergeability; both twins hash
    against the one oracle."""
    from adhesive_spark.operators.asof import session_spans

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t")
    )
    out = session_spans(ev, "user_id", "t", _SESSION_GAP_US, engine=engine)
    return out.select(
        "user_id", "n_sessions", "n_events", F.col("span").alias("span_us")
    )


def q409_session_spans(spark, sf_dir):
    return _session_spans_query(spark, sf_dir, "sweep")


q409_session_spans.__doc__ = _session_spans_query.__doc__


def q410_session_spans_salted(spark, sf_dir):
    return _session_spans_query(spark, sf_dir, "salted")


q410_session_spans_salted.__doc__ = _session_spans_query.__doc__

SCALE_QUERIES["q409_session_spans"] = q409_session_spans
SCALE_QUERIES["q410_session_spans_salted"] = q410_session_spans_salted

_SESSION_SPANS_ORACLE = """
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS t FROM events
    ),
    flagged AS (
      SELECT user_id, t,
             CASE WHEN LAG(t) OVER w IS NULL
                    OR t - LAG(t) OVER w >= 600000000
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY t)
    ),
    numbered AS (
      SELECT user_id, t,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id,
             MIN(t) AS first_t, MAX(t) AS last_t,
             COUNT(*) AS n_ev
      FROM numbered GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_ev) AS BIGINT) AS n_events,
           CAST(SUM(last_t - first_t) AS BIGINT) AS span_us
    FROM per_session GROUP BY user_id
"""

SCALE_ORACLES["q409_session_spans"] = _SESSION_SPANS_ORACLE
SCALE_ORACLES["q410_session_spans_salted"] = _SESSION_SPANS_ORACLE
