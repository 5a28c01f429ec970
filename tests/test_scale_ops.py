"""Semantic contracts for the scale-operations queries (q217–q223) —
properties the DuckDB hash check can't see: the zorder layout must
actually BEAT the natural layout, interval union must respect coverage
bounds, epoch shuffles must be genuine permutations."""

import pytest

from adhesive_spark.queries.scale_queries import (
    q217_zorder_layout,
    q219_interval_union,
    q220_epoch_shuffle,
    q222_source_tv_drift,
    q223_dedup_aware_mixture,
)

SF = "/root/testdata/sf0.001"


def test_zorder_beats_natural(spark):
    rows = {r["layout"]: r for r in q217_zorder_layout(spark, SF).collect()}
    # the whole point of the layout: the 2-D predicate prunes a far
    # larger FRACTION of zorder blocks than of natural blocks (block
    # counts differ — only non-empty blocks exist under each layout)
    assert (
        rows["zorder"]["scan_frac_milli"] * 4
        <= rows["natural"]["scan_frac_milli"]
    )
    assert 0 < rows["zorder"]["blocks_scanned"]  # predicate is satisfiable


def test_interval_union_coverage_bounds(spark):
    from pyspark.sql import functions as F

    from adhesive_spark.sources.registry import load_table

    per_user = q219_interval_union(spark, SF)
    ev = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    bad = (
        per_user.join(ev, "user_id")
        .where(
            # each island covers >= one interval, <= n_events intervals
            (F.col("covered_us") < 300_000_000)
            | (F.col("covered_us") > F.col("n_events") * 300_000_000)
            | (F.col("n_islands") > F.col("n_events"))
            | (F.col("n_islands") < 1)
        )
        .count()
    )
    assert bad == 0


def test_epoch_shuffle_is_permutation(spark):
    rows = {r["epoch"]: r for r in q220_epoch_shuffle(spark, SF).collect()}
    assert set(rows) == {0, 1, 2}
    # epoch 0 vs itself: zero displacement; later epochs genuinely move
    assert rows[0]["total_displacement"] == 0
    assert rows[1]["total_displacement"] > 0
    assert rows[2]["total_displacement"] > 0
    # order fingerprints differ between epochs (different permutations)
    assert len({r["order_fp"] for r in rows.values()}) == 3


def test_tv_drift_in_range(spark):
    rows = q222_source_tv_drift(spark, SF).collect()
    assert rows
    for r in rows:
        # total variation distance lives in [0, 1] → [0, 1e6] ppm
        assert 0 <= r["tv_ppm"] <= 1_000_000


def test_dedup_mixture_never_exceeds_raw(spark):
    rows = q223_dedup_aware_mixture(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["eff_tokens_milli"] <= r["raw_tokens"] * 1000
        assert 0 <= r["dup_tax_ppm"] <= 1_000_000


def test_tokenizer_apply_fertility_bounds(spark):
    from adhesive_spark.queries.scale_queries import q224_tokenizer_apply

    rows = q224_tokenizer_apply(spark, SF).collect()
    assert rows
    for r in rows:
        # every word is >= 1 piece, and multi-char pieces mean fewer
        # pieces than characters: 100 <= fertility < word length bound
        assert r["total_pieces"] >= r["total_words"]
        assert r["fertility_centi"] >= 100


def test_tokenizer_greedy_matches_python_reference(spark):
    """The HOF fold must equal a plain-Python greedy segmenter."""
    from adhesive_spark.queries.scale_queries import _PIECES

    def greedy(word):
        pos, cnt = 0, 0
        while pos < len(word):
            best = 1
            for p in _PIECES:
                if len(p) > best and word[pos : pos + len(p)] == p:
                    best = len(p)
            pos += best
            cnt += 1
        return cnt

    from pyspark.sql import functions as F

    from adhesive_spark.operators.text import tokens
    from adhesive_spark.sources.registry import load_table

    from adhesive_spark.queries.scale_queries import n_pieces_col

    docs = load_table(spark, SF, "documents")
    seg = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .distinct()
        .withColumn("n", n_pieces_col(F.col("w")))
        .collect()
    )
    assert seg
    for r in seg:
        assert r["n"] == greedy(r["w"]), r["w"]


def test_exact_median_matches_full_sort(spark):
    from pyspark.sql import functions as F

    from adhesive_spark.queries.scale_queries import (
        q225_exact_median_twophase,
    )
    from adhesive_spark.sources.registry import load_table

    got = {
        r["l_returnflag"]: r["median_cents"]
        for r in q225_exact_median_twophase(spark, SF).collect()
    }
    li = (
        load_table(spark, SF, "lineitem")
        .select(
            "l_returnflag",
            F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").alias(
                "cents"
            ),
        )
        .collect()
    )
    by_flag = {}
    for r in li:
        by_flag.setdefault(r["l_returnflag"], []).append(r["cents"])
    for flag, vals in by_flag.items():
        vals.sort()
        k = (len(vals) + 1) // 2
        assert got[flag] == vals[k - 1], flag


def test_maxsim_rank_contract(spark):
    from adhesive_spark.queries.scale_queries import (
        q227_maxsim_late_interaction,
    )

    rows = q227_maxsim_late_interaction(spark, SF).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    scores = [r["score_micro"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_label_propagation_communities(spark):
    from adhesive_spark.queries.scale_queries import q228_label_propagation

    rows = q228_label_propagation(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_members"] >= 2
        # labels are node ids: the propagation can only assign labels
        # that exist as nodes
        assert r["community"].startswith(("c:", "s:"))


def test_ndcg_in_unit_range(spark):
    from adhesive_spark.queries.scale_queries import q229_ndcg_eval

    rows = q229_ndcg_eval(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r["ndcg_milli"] <= 1000
        # a query with zero relevant hits must score exactly 0
        if r["n_rel"] == 0:
            assert r["ndcg_milli"] == 0
        # perfect retrieval (all top-n_rel are relevant at the head)
        # scores 1000; DCG can never exceed IDCG
        assert r["n_rel"] <= 10


def test_masked_span_rate_near_target(spark):
    from adhesive_spark.queries.scale_queries import q230_masked_span_plan

    rows = q230_masked_span_plan(spark, SF).collect()
    assert rows
    total = sum(r["total_tokens"] for r in rows)
    masked = sum(r["masked_tokens"] for r in rows)
    # the hash gate targets 15% corruption; allow generous sampling
    # noise at sf0.001 corpus size
    assert 0.08 <= masked / total <= 0.22
    for r in rows:
        assert r["n_spans"] <= r["masked_tokens"]
        # mean span length is 3 ⇒ spans ≥ masked/3
        assert r["n_spans"] * 3 >= r["masked_tokens"]


def test_quantile_ladder_matches_sorted(spark):
    from pyspark.sql import functions as F

    from adhesive_spark.queries.scale_queries import (
        q231_exact_quantile_ladder,
    )
    from adhesive_spark.sources.registry import load_table

    got = {
        (r["event_type"], r["quantile"]): r["value_milli"]
        for r in q231_exact_quantile_ladder(spark, SF).collect()
    }
    ev = (
        load_table(spark, SF, "events")
        .select(
            "event_type",
            F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v"),
        )
        .collect()
    )
    by_type = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r["v"])
    import math

    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        for name, num, den in [("p50", 50, 100), ("p90", 90, 100), ("p99", 99, 100)]:
            k = (n * num + den - 1) // den
            assert got[(et, name)] == vals[k - 1], (et, name)


def test_matryoshka_footrule_bounds(spark):
    from adhesive_spark.queries.scale_queries import (
        q232_matryoshka_rank_audit,
    )

    rows = q232_matryoshka_rank_audit(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        # footrule over a 10-permutation is bounded by 50
        assert 0 <= r["footrule"] <= 50
        assert 0 <= r["top3_kept"] <= 3


def test_budget_fill_greedy_contract(spark):
    from adhesive_spark.queries.scale_queries import q233_token_budget_fill

    rows = sorted(
        q233_token_budget_fill(spark, SF).collect(),
        key=lambda r: (-r["avg_q"], r["source"]),
    )
    total = sum(r["tokens"] for r in rows)
    budget = total * 40 // 100
    taken = sum(r["take_tokens"] for r in rows)
    assert taken == budget  # greedy fill spends the budget exactly
    # prefix property: all full takes precede the partial, zeros after
    states = [
        "full" if r["take_tokens"] == r["tokens"]
        else ("zero" if r["take_tokens"] == 0 else "partial")
        for r in rows
    ]
    import re

    assert re.fullmatch(r"(full)*(partial)?(zero)*", "".join(
        {"full": "full", "partial": "partial", "zero": "zero"}[s] for s in states
    ))


def test_windowed_dedup_bounds(spark):
    from adhesive_spark.queries.scale_queries import (
        q234_windowed_dedup_audit,
    )

    rows = q234_windowed_dedup_audit(spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_kept"] <= r["n_events"]
        assert 0 <= r["dup_ppm"] < 1_000_000


def test_conversion_latency_monotone_quantiles(spark):
    from adhesive_spark.queries.scale_queries import q235_conversion_latency

    rows = {
        r["quantile"]: r for r in q235_conversion_latency(spark, SF).collect()
    }
    assert set(rows) == {"p50", "p90", "p99"}
    assert (
        rows["p50"]["latency_s"]
        <= rows["p90"]["latency_s"]
        <= rows["p99"]["latency_s"]
    )
    assert rows["p50"]["n_conversions"] >= 1


def test_bucketed_join_no_exchange_without_broadcast(spark):
    """With broadcast off, the bucketed layout alone must carry the
    join: SortMergeJoin with NO Exchange on either input (the final
    aggregate's exchange is the only one allowed)."""
    import re

    from adhesive_spark.queries.scale_queries import (
        q238_bucketed_colocated_join,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q238_bucketed_colocated_join(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("SortMergeJoin") == 1
        assert len(re.findall(r"\bExchange\b", plan)) <= 1
        assert df.count() == 5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_source_minhash_self_similarity(spark):
    """A source compared with itself would agree on every permutation;
    distinct sources in this corpus share most of the small lexicon, so
    estimates must be high-but-valid milli fractions."""
    from adhesive_spark.queries.scale_queries import (
        q236_source_minhash_matrix,
    )

    rows = q236_source_minhash_matrix(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["agree"] <= 32
        assert 0 <= r["est_jaccard_milli"] <= 1000


def test_simpson_diversity_extremes(spark):
    from adhesive_spark.queries.scale_queries import q237_simpson_diversity

    rows = q237_simpson_diversity(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["diversity_ppm"] < 1_000_000


def test_zipf_alarm_fires_on_synthetic(spark):
    """Natural corpora slope DOWN (≈ −1) in log2-log2 space; the
    synthetic closed-lexicon testdata has no rare-type tail, so the
    audit must flag it with a NON-negative slope — the alarm case."""
    from adhesive_spark.queries.scale_queries import q239_zipf_audit

    rows = q239_zipf_audit(spark, SF).collect()
    assert len(rows) == 1
    # the sf0.001 lexicon is tiny (~40 types) — only 2 log2 buckets
    assert rows[0]["n_points"] >= 2
    assert rows[0]["slope_milli"] >= 0

    # and on a constructed Zipf-ish frequency table the same estimator
    # recovers a negative slope: types per log2-frequency bucket
    # doubling downward ⇒ slope ≈ −1 (here exactly −1000 milli)
    from pyspark.sql import functions as F

    pts = spark.createDataFrame(
        [(b, 1 << (8 - b)) for b in range(1, 8)], "b long, n_types long"
    ).select("b", F.length(F.conv(F.col("n_types"), 10, 2)).cast("long").alias("y"))
    agg = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("b").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("b * y")).cast("long").alias("sxy"),
        F.sum(F.expr("b * b")).cast("long").alias("sxx"),
    ).select(
        F.expr("(n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx)").alias(
            "slope_milli"
        )
    )
    assert agg.collect()[0]["slope_milli"] == -1000


def test_hierarchical_shares_sum(spark):
    from adhesive_spark.queries.scale_queries import q240_hierarchical_share

    rows = q240_hierarchical_share(spark, SF).collect()
    assert rows
    by_region = {}
    for r in rows:
        by_region.setdefault(r["r_name"], []).append(r)
    for region, rs in by_region.items():
        s = sum(r["share_of_region_ppm"] for r in rs)
        # truncating div: sum of shares within a region lands just
        # under 1e6 (one ulp per nation at most)
        assert 1_000_000 - len(rs) <= s <= 1_000_000, region


def test_interval_union_salted_matches_default(spark):
    """The salted engine (whale-key rescue, r12) must produce the exact
    rows of the default single-sweep engine on the ADVERSARIAL shape
    that motivates it: a fixed tiny key space flooded with replicated,
    heavily-overlapping intervals (the STRESS.md 10 000× fixture in
    miniature — copies share endpoints, so the endpoint-hash salt also
    gets exercised on duplicate values)."""
    from pyspark.sql import functions as F

    from adhesive_spark.operators.asof import interval_union
    from adhesive_spark.sources.registry import load_table

    ev = (
        load_table(spark, SF, "events")
        .select("user_id", F.unix_micros("ts").alias("s"))
        .withColumn("e", F.col("s") + F.lit(300_000_000))
        # fixed 5-key space + 7x replication: every window partition is
        # a whale relative to the key count, like the 10 000x rung
        .withColumn("user_id", F.pmod(F.col("user_id"), F.lit(5)))
        .withColumn("__rep", F.explode(F.sequence(F.lit(0), F.lit(6))))
        .drop("__rep")
    )
    default = {
        r["user_id"]: (r["n_islands"], r["covered"])
        for r in interval_union(ev, "user_id", "s", "e").collect()
    }
    for n_salts in (2, 32):
        salted = {
            r["user_id"]: (r["n_islands"], r["covered"])
            for r in interval_union(
                ev, "user_id", "s", "e", engine="salted", n_salts=n_salts
            ).collect()
        }
        assert salted == default and len(default) == 5, n_salts


def test_session_spans_matches_session_window(spark):
    """session_spans (the mergeable-sweep sessionizer) must reproduce
    F.session_window's boundary rule exactly — same n_sessions,
    n_events, and summed span per user on the real events table — and
    its salted engine must equal its default."""
    from pyspark.sql import functions as F

    from adhesive_spark.operators.asof import session_spans
    from adhesive_spark.sources.registry import load_table

    gap_us = 1_800_000_000  # 30 minutes in micros
    events = load_table(spark, SF, "events").where(F.col("user_id") < 40)
    builtin = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n").cast("long").alias("n_events"),
            (
                F.sum(
                    F.unix_micros(F.col("w.end")) - F.unix_micros(F.col("w.start"))
                )
                - F.count("*") * F.lit(gap_us)
            )
            .cast("long")
            .alias("span"),
        )
    )
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"], r["span"])
        for r in builtin.collect()
    }
    micro = events.select("user_id", F.unix_micros("ts").alias("t"))
    for engine in ("sweep", "salted"):
        got = {
            r["user_id"]: (r["n_sessions"], r["n_events"], r["span"])
            for r in session_spans(
                micro, "user_id", "t", gap_us, engine=engine, n_salts=4
            ).collect()
        }
        assert got == want and len(want) > 0, engine


def test_salted_sweep_rejects_degenerate_salts(spark):
    import pytest as _pytest

    from adhesive_spark.operators.asof import interval_union

    df = spark.createDataFrame([("k", 0, 10)], "k string, s long, e long")
    with _pytest.raises(ValueError):
        interval_union(df, "k", "s", "e", engine="salted", n_salts=1)
    with _pytest.raises(ValueError):
        interval_union(df, "k", "s", "e", engine="nope")


def test_knn_vectorized_matches_hof_twin(spark, sf_dir):
    """knn_bruteforce's batched-kernel engine must be BYTE-equal to the
    pure-Catalyst HOF twin (tests/_twins.py) — same (query, id, sim,
    rank) rows including the 6-dp rounded sims, on the real embedding
    table.  The kernel replays the HOF fold's per-dimension IEEE
    operation order, so this is exact equality, not approximate."""
    from pyspark.sql import functions as F

    from _twins import knn_bruteforce_hof
    from adhesive_spark.operators.similarity import knn_bruteforce
    from adhesive_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.where(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vec = {
        (r.query_id, r.rank): (r.vec_id, r.sim)
        for r in knn_bruteforce(emb, queries, k=5).collect()
    }
    hof = {
        (r.query_id, r.rank): (r.vec_id, r.sim)
        for r in knn_bruteforce_hof(emb, queries, k=5).collect()
    }
    assert vec == hof and len(vec) == 35


def test_kmeans_assign_vectorized_matches_hof(spark, sf_dir):
    """The map-only kernel assignment must produce the IDENTICAL
    (vec_id -> cid) labeling as the crossJoin+HOF twin (tests/_twins.py)
    — rounding and argmax semantics live Spark-side in both, and
    the kernel's raw sims replay the fold's IEEE order, so this is
    exact equality on the full embedding table."""
    from pyspark.sql import functions as F

    from _twins import assign_hof
    from adhesive_spark.operators.clustering import _assign
    from adhesive_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    vectors = emb.select(F.col("vec_id"), F.col("embedding").alias("v"))
    cents = (
        vectors.orderBy("vec_id")
        .limit(6)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    vec = {r.vec_id: r.cid for r in _assign(vectors, cents).collect()}
    hof = {r.vec_id: r.cid for r in assign_hof(vectors, cents).collect()}
    assert vec == hof and len(vec) == vectors.count()


def test_knn_corner_inputs_match_hof(spark):
    """r10 ADVICE: null query vectors, null/ragged corpus rows, and
    zero-norm pairs must not crash the kernel or the HOF twin and must
    produce the SAME rows from both — null sims rank last, never kernel NaNs that
    sort first. Exercises every corner the advice listed."""
    from _twins import knn_bruteforce_hof
    from adhesive_spark.operators.similarity import knn_bruteforce

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, None),             # null corpus row
            (4, [1.0, 2.0, 3.0]),  # ragged (len 3)
            (5, [0.0, 0.0]),       # zero norm
            (6, [0.6, 0.8]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 1.0]), (11, None), (12, [0.0, 0.0])],
        "query_id long, embedding array<double>",
    )

    def rows(knn):
        return sorted(
            (r.query_id, r.rank, r.vec_id, r.sim)
            for r in knn(corpus, queries, k=6).collect()
        )

    vec, hof = rows(knn_bruteforce), rows(knn_bruteforce_hof)
    assert vec == hof
    # valid pairs score; null/ragged/zero-norm pairs are null sims
    byq = {}
    for qid, rank, vid, sim in vec:
        byq.setdefault(qid, {})[vid] = sim
    assert byq[10][1] is not None and byq[10][6] is not None
    assert byq[10][3] is None and byq[10][4] is None and byq[10][5] is None
    assert all(s is None for s in byq[11].values())  # null query
    assert all(s is None for s in byq[12].values())  # zero-norm query


def test_knn_float32_width_independent(spark):
    """r10 ADVICE: array<float> embeddings must produce IDENTICAL sims
    from the kernel and the HOF twin (both promote to float64 before the
    fold), so the kernel can never silently change float32 results."""
    from pyspark.sql import functions as F

    from _twins import knn_bruteforce_hof
    from adhesive_spark.operators.similarity import knn_bruteforce

    corpus = spark.createDataFrame(
        [(i, [0.1 * i + 0.3, 0.7 - 0.2 * i, 1.1 * i]) for i in range(1, 9)],
        "vec_id long, embedding array<double>",
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    queries = spark.createDataFrame(
        [(100, [0.25, 0.5, 0.33]), (101, [0.9, 0.1, 0.4])],
        "query_id long, embedding array<double>",
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    vec = sorted(
        (r.query_id, r.rank, r.vec_id, r.sim)
        for r in knn_bruteforce(corpus, queries, k=4).collect()
    )
    hof = sorted(
        (r.query_id, r.rank, r.vec_id, r.sim)
        for r in knn_bruteforce_hof(corpus, queries, k=4).collect()
    )
    assert vec == hof and len(vec) == 8


def test_kmeans_assign_corner_inputs_match_hof(spark):
    """Null/ragged/zero-norm vectors flow through the assignment kernel
    and its HOF twin without crashing and land on the same cid (the all-null-sim
    tie resolves to the lowest cid via the shared struct comparator);
    float32 input assigns identically too."""
    from pyspark.sql import functions as F

    from _twins import assign_hof
    from adhesive_spark.operators.clustering import _assign

    vectors = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, None),
            (3, [2.0, 1.0, 0.5]),  # ragged
            (4, [0.0, 0.0]),       # zero norm
            (5, [0.3, 0.4]),
        ],
        "vec_id long, v array<double>",
    )
    cents = spark.createDataFrame(
        [(7, [1.0, 1.0]), (9, [0.0, 1.0])], "cid long, cv array<double>"
    )
    vec = {r.vec_id: r.cid for r in _assign(vectors, cents).collect()}
    hof = {r.vec_id: r.cid for r in assign_hof(vectors, cents).collect()}
    assert vec == hof and len(vec) == 5
    assert vec[2] == 7 and vec[3] == 7 and vec[4] == 7  # all-null -> min cid
    # float32 twin agreement
    v32 = vectors.where("v is not null and size(v) = 2").withColumn(
        "v", F.col("v").cast("array<float>")
    )
    c32 = cents.withColumn("cv", F.col("cv").cast("array<float>"))
    vec32 = {r.vec_id: r.cid for r in _assign(v32, c32).collect()}
    hof32 = {r.vec_id: r.cid for r in assign_hof(v32, c32).collect()}
    assert vec32 == hof32 and len(vec32) == 3


def test_knn_and_assign_zero_inputs_return_empty_frames(spark):
    """Zero queries (knn_bruteforce) and zero centroids (k-means
    _assign) return an empty frame with the usual column names and
    types."""
    from adhesive_spark.operators.clustering import _assign
    from adhesive_spark.operators.similarity import knn_bruteforce

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    no_queries = spark.createDataFrame(
        [], "query_id long, embedding array<double>"
    )
    knn = knn_bruteforce(corpus, no_queries, k=3)
    assert knn.dtypes == [
        ("query_id", "bigint"),
        ("vec_id", "bigint"),
        ("sim", "double"),
        ("rank", "int"),
    ]
    assert knn.collect() == []

    vectors = corpus.withColumnRenamed("embedding", "v")
    no_cents = spark.createDataFrame([], "cid long, cv array<double>")
    assigned = _assign(vectors, no_cents)
    assert assigned.dtypes == [
        ("vec_id", "bigint"),
        ("v", "array<double>"),
        ("cid", "bigint"),
    ]
    assert assigned.collect() == []


def _engine_switch_calls(spark):
    """One call per operator that used to take an engine switch
    (``engine=``, or ``algo=`` for ``dedup_transitive``), each with that
    switch's non-default value and otherwise valid inputs."""
    from adhesive_spark.operators.clustering import _assign
    from adhesive_spark.operators.dedup import minhash_base_and_bands
    from adhesive_spark.operators.graph import dedup_transitive
    from adhesive_spark.operators.incremental import apply_cdc
    from adhesive_spark.operators.similarity import knn_bruteforce
    from adhesive_spark.queries.training_queries import (
        gopher_repetition_report,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    docs = spark.createDataFrame(
        [(1, "web", "a b c a b c")], "doc_id long, source string, text string"
    )
    log = spark.createDataFrame(
        [(1, 10, "upsert")], "k long, ts long, op string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    return {
        "knn_bruteforce": lambda: knn_bruteforce(
            vecs, vecs.withColumnRenamed("vec_id", "query_id"), engine="hof"
        ),
        "_assign": lambda: _assign(
            vecs.withColumnRenamed("embedding", "v"),
            vecs.toDF("cid", "cv"),
            engine="hof",
        ),
        "minhash_base_and_bands": lambda: minhash_base_and_bands(
            docs, engine="hof"
        ),
        "gopher_repetition_report": lambda: gopher_repetition_report(
            docs, engine="hof"
        ),
        "apply_cdc": lambda: apply_cdc(log, ["k"], ["ts"], engine="agg"),
        "dedup_transitive": lambda: dedup_transitive(
            docs, pairs, algo="minlabel"
        ),
    }


@pytest.mark.parametrize(
    "op",
    [
        "knn_bruteforce",
        "_assign",
        "minhash_base_and_bands",
        "gopher_repetition_report",
        "apply_cdc",
        "dedup_transitive",
    ],
)
def test_removed_engine_switch_raises(spark, op):
    """Each of these operators has one engine; asking for another by
    name is an error, never a silent pick."""
    with pytest.raises(
        TypeError, match="unexpected keyword argument '(engine|algo)'"
    ):
        _engine_switch_calls(spark)[op]()
