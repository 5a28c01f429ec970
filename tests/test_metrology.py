"""Invariant tests for the q335+ selection/distribution metrology
family (queries/metrology_queries.py) — each pins the STATISTICAL
contract of a query with an independent pure-Python replay or a
closed-form identity, so a refactor that keeps the oracle in sync but
breaks the semantics still fails."""

import math

from pyspark.sql import functions as F

from adhesive_spark.queries import metrology_queries as M
from adhesive_spark.sources.registry import load_table


def test_containment_detects_quote_jaccard_misses(spark):
    """THE reason containment exists: a short quote inside a long page
    must clear the containment threshold while its Jaccard stays far
    below any near-dup cut."""
    from adhesive_spark.operators.dedup import containment_pairs

    quote = "the quick brown fox jumps over the lazy dog tonight"
    page = " ".join(
        f"filler{i} word{i} text{i}" for i in range(120)
    ) + " " + quote
    df = spark.createDataFrame(
        [(1, quote), (2, page)], ["doc_id", "text"]
    )
    rows = containment_pairs(
        df, "text", "doc_id", n=3, threshold_ppm=500_000
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    # every quote shingle appears in the page -> containment == 1.0
    assert r.cont_ab_ppm == 1_000_000
    assert r.jaccard_ppm < 100_000  # Jaccard blind to the subset


def test_priority_sample_estimator_contract(spark, sf_dir):
    """Priority-sampling invariants (Duffield et al. 2007): exactly k
    ranked rows; est_w = max(w, τ) ≥ w; est_total is their sum; the
    true total matches an independent aggregate of the table."""
    out = M.q337_priority_sample(spark, sf_dir).collect()
    assert sorted(r.rank for r in out) == list(range(1, 33))
    docs = load_table(spark, sf_dir, "documents")
    true_total = docs.agg(F.sum("n_chars")).collect()[0][0]
    assert all(r.true_total == true_total for r in out)
    assert all(r.est_w >= r.w for r in out)
    assert all(r.est_total == sum(x.est_w for x in out) for r in out)
    # τ is shared: every inflated row was inflated TO the same value
    taus = {r.est_w for r in out if r.est_w > r.w}
    assert len(taus) <= 1


def _quality_by_source(spark, sf_dir):
    from adhesive_spark.operators.text import quality_score, scaled_long

    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            scaled_long(quality_score(F.col("text")), 4).alias("q_s"),
        )
        .collect()
    )


def test_ks_matches_python_replay(spark, sf_dir):
    """q340's windowed cross-multiplied D must equal the brute-force
    two-sample KS statistic computed row-by-row in Python."""
    rows = _quality_by_source(spark, sf_dir)
    out = {r.source: r for r in M.q340_ks_drift(spark, sf_dir).collect()}
    values = sorted({r.q_s for r in rows})
    for source in {r.source for r in rows}:
        a = sorted(r.q_s for r in rows if r.source == source)
        b = sorted(r.q_s for r in rows if r.source != source)
        best = -1
        for v in values:
            ca = sum(1 for x in a if x <= v)
            cb = sum(1 for x in b if x <= v)
            best = max(best, abs(ca * len(b) - cb * len(a)))
        got = out[source]
        assert got.n_src == len(a) and got.n_rest == len(b)
        assert got.ks_ppm == best * 1_000_000 // max(len(a) * len(b), 1)


def test_mwu_auc_matches_bruteforce_pairs(spark, sf_dir):
    """q341's distinct-value 2U must equal the O(n²) pair count:
    2U = 2·#{(a,b): a>b} + #{ties} over (source, rest) pairs."""
    rows = _quality_by_source(spark, sf_dir)
    out = {
        r.source: r for r in M.q341_mannwhitney_auc(spark, sf_dir).collect()
    }
    for source in sorted({r.source for r in rows})[:5]:  # bound runtime
        a = [r.q_s for r in rows if r.source == source]
        b = [r.q_s for r in rows if r.source != source]
        u2 = sum(
            2 if x > y else (1 if x == y else 0) for x in a for y in b
        )
        assert out[source].u2 == u2
        assert out[source].auc_ppm == u2 * 1_000_000 // max(
            2 * len(a) * len(b), 1
        )


def test_good_turing_identities(spark, sf_dir):
    """N₁ ≤ vocab ≤ tokens; the ppm columns are exact integer ratios
    of the counts they ship next to."""
    for r in M.q336_good_turing_mass(spark, sf_dir).collect():
        assert r.n1 + r.n2 <= r.vocab <= r.n_tokens
        assert r.unseen_mass_ppm == r.n1 * 1_000_000 // r.n_tokens
        assert r.singleton_share_ppm == r.n1 * 1_000_000 // r.vocab


def test_dead_dimensions_shares_sum_to_unity(spark, sf_dir):
    """Variance shares are a partition of total variance: they sum to
    1e6 up to per-dim truncation (− at most n_dims ppm)."""
    out = M.q342_dead_dimensions(spark, sf_dir).collect()
    total = sum(r.var_share_ppm for r in out)
    assert 1_000_000 - len(out) <= total <= 1_000_000
    for r in out:
        assert r.is_dead == (1 if r.var_share_ppm < 1000 else 0)


def test_domain_reweight_python_replay(spark, sf_dir):
    """The 3 multiplicative-weights rounds replayed in pure integer
    Python from the query's OWN base/excess columns must reproduce
    weight_ppm exactly — pins the iteration order and rounding."""
    out = M.q335_domain_reweight(spark, sf_dir).collect()
    w = {r.source: r.base_ppm for r in out}
    excess = {r.source: r.excess_ppm for r in out}
    for _ in range(3):
        w = {s: w[s] * (1_000_000 + excess[s]) // 1_000_000 for s in w}
        sw = sum(w.values())
        w = {s: w[s] * 1_000_000 // sw for s in w}
    for r in out:
        assert r.weight_ppm == w[r.source]
        assert r.tilt_ppm == w[r.source] - r.base_ppm
    assert sum(r.excess_ppm >= 0 for r in out) == len(out)


def test_neyman_sigma_is_integer_sqrt_of_variance(spark, sf_dir):
    """σ_scaled must equal isqrt(⌊(nΣq² − (Σq)²)/n²⌋) recomputed in
    exact Python integers from the raw quality scores."""
    rows = _quality_by_source(spark, sf_dir)
    out = {
        r.source: r
        for r in M.q338_neyman_allocation(spark, sf_dir).collect()
    }
    for source in {r.source for r in rows}:
        qs = [r.q_s for r in rows if r.source == source]
        n, s1, s2 = len(qs), sum(qs), sum(q * q for q in qs)
        var = (n * s2 - s1 * s1) // (n * n)
        assert out[source].sigma_scaled == math.isqrt(var)
        assert out[source].n_docs == n
    budget_used = sum(r.neyman_alloc for r in out.values())
    assert budget_used <= 10_000  # floor-division never overshoots


def test_conformal_rank_and_threshold_replay(spark, sf_dir):
    """rank_used must be min(⌈0.9(n+1)⌉, n) and q_hat the rank_used-th
    smallest calibration value, replayed in Python with the same
    hash split."""
    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import scaled_long

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            scaled_long(F.col("value"), 2).alias("c"),
            (
                portable_hash32(
                    F.concat(
                        F.lit("cal:"), F.col("event_id").cast("string")
                    )
                )
                % 2
            ).alias("half"),
        )
        .collect()
    )
    out = {
        r.event_type: r
        for r in M.q345_conformal_threshold(spark, sf_dir).collect()
    }
    for etype, r in out.items():
        cal = sorted(x.c for x in ev if x.event_type == etype and x.half == 0)
        assert r.n_cal == len(cal)
        r_star = min(-(-9 * (len(cal) + 1) // 10), len(cal))
        assert r.rank_used == r_star
        assert r.q_hat_c == cal[r_star - 1]
        test = [x.c for x in ev if x.event_type == etype and x.half == 1]
        assert r.n_test == len(test)
        cov = sum(1 for c in test if c <= r.q_hat_c)
        assert r.coverage_ppm == cov * 1_000_000 // len(test)


def test_permutation_test_bounds(spark, sf_dir):
    """p-value respects the add-one floor 1/(B+1) and the ceiling 1;
    the replica count is the fixed 64."""
    r = M.q346_permutation_test(spark, sf_dir).collect()[0]
    assert r.n_reps == 64
    assert 1_000_000 // 65 <= r.p_value_ppm <= 1_000_000
    assert 0 <= r.n_exceed <= 64


def test_tfcos_matches_bruteforce_cosine(spark, sf_dir):
    """Top TF-cosine pairs replayed with brute-force Python dicts over
    the same normalized tokens and the same df≤50 candidate cap."""
    from collections import Counter

    from adhesive_spark.operators.text import tokens

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .collect()
    )
    tf = {r.doc_id: Counter(r.toks) for r in docs}
    df = Counter(t for c in tf.values() for t in c)
    norms = {d: sum(v * v for v in c.values()) for d, c in tf.items()}
    ids = sorted(tf)
    best = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            dot = sum(
                tf[a][t] * tf[b][t]
                for t in tf[a]
                if t in tf[b] and df[t] <= 50
            )
            if dot:
                best.append(
                    (
                        dot * dot * 1_000_000 // (norms[a] * norms[b]),
                        a,
                        b,
                        dot,
                    )
                )
    best.sort(key=lambda x: (-x[0], x[1], x[2]))
    out = sorted(
        M.q344_tfcos_allpairs(spark, sf_dir).collect(), key=lambda r: r.rank
    )
    for r, (cos2, a, b, dot) in zip(out, best[:20]):
        assert (r.doc_a, r.doc_b, r.dot, r.cos2_ppm) == (a, b, dot, cos2)


def test_tcloseness_flags_match_and_bounds(spark, sf_dir):
    """EMD is a [0,1] distance: t_ppm within bounds, at_risk consistent,
    and group sizes partition the corpus."""
    out = M.q343_t_closeness(spark, sf_dir).collect()
    n_all = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_rows for r in out) == n_all
    for r in out:
        assert 0 <= r.t_ppm <= 1_000_000
        assert r.at_risk == (1 if r.t_ppm > 300_000 else 0)


def test_lang_id_arr_matches_markers(spark):
    """Half-document lang-id: clear marker sets resolve to their
    language; a marker-free half is 'und'; an en/de half-and-half doc
    is exactly what q347 counts as mixed."""
    from adhesive_spark.operators.text import lang_id_tokens

    df = spark.createDataFrame(
        [
            (["the", "cat", "and", "dog"],),
            (["der", "hund", "und", "katze"],),
            (["zzz", "qqq"],),
        ],
        ["toks"],
    )
    got = [r.l for r in df.select(lang_id_tokens(F.col("toks")).alias("l")).collect()]
    assert got == ["en", "de", "und"]


def test_code_switch_counts_are_consistent(spark, sf_dir):
    out = M.q347_code_switch_audit(spark, sf_dir).collect()
    from adhesive_spark.sources.registry import load_table as _lt

    assert sum(r.n_docs for r in out) == _lt(spark, sf_dir, "documents").count()
    for r in out:
        assert 0 <= r.n_mixed <= r.n_docs
        assert r.mixed_ppm == r.n_mixed * 1_000_000 // r.n_docs
        assert 0 <= r.und_ppm <= 1_000_000


def test_pq_distortion_matches_numpy_replay(spark, sf_dir):
    """Exact replay: milli-quantize, nearest-of-8 codebook per 16-dim
    subspace (ties to lower cid), distortion sums — pure Python."""
    emb = sorted(
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    mv = {
        r.vec_id: [round(float(x) * 1000) for x in r.embedding] for r in emb
    }
    out = {r.s: r for r in M.q348_pq_distortion(spark, sf_dir).collect()}
    for s in range(4):
        subs = {v: m[s * 16 : (s + 1) * 16] for v, m in mv.items()}
        cb = {cid: subs[cid] for cid in range(8)}
        total = 0
        per_code: dict[int, int] = {}
        for v, sv in subs.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(sv, cb[c])), c)
                for c in range(8)
            )
            total += best[0]
            per_code[best[1]] = per_code.get(best[1], 0) + 1
        r = out[s]
        assert r.n_vecs == len(subs)
        assert r.total_err == total
        assert r.mean_err == total // len(subs)
        assert r.codes_used == len(per_code)
        assert r.top_code_ppm == max(per_code.values()) * 1_000_000 // len(
            subs
        )


def test_style_affinity_matches_python_replay(spark, sf_dir):
    """Stopword-profile cos² replayed with Python Counters over the
    same normalized tokens."""
    from collections import Counter

    from adhesive_spark.operators.text import STOPWORDS_EN, tokens

    rows = (
        load_table(spark, sf_dir, "documents")
        .select("source", tokens(F.col("text")).alias("toks"))
        .collect()
    )
    stops = set(STOPWORDS_EN)
    counts: dict[str, Counter] = {}
    for r in rows:
        c = counts.setdefault(r.source, Counter())
        for t in r.toks:
            if t in stops:
                c[t] += 1
    prof = {
        s: {w: n * 1_000_000 // sum(c.values()) for w, n in c.items()}
        for s, c in counts.items()
    }
    nrm = {s: sum(v * v for v in p.values()) for s, p in prof.items()}
    out = M.q349_style_affinity(spark, sf_dir).collect()
    assert len(out) == len(prof) * (len(prof) - 1) // 2
    for r in out:
        pa, pb = prof[r.src_a], prof[r.src_b]
        dot = sum(pa[w] * pb.get(w, 0) for w in pa)
        want = dot * dot * 1_000_000 // max(nrm[r.src_a] * nrm[r.src_b], 1)
        assert r.cos2_ppm == want, (r.src_a, r.src_b)


def test_dedup_survivorship_partitions_clusters(spark, sf_dir):
    """Kept + dropped partition the clustered docs; exactly one kept
    per component (the star-CC representative count)."""
    from adhesive_spark.operators.dedup import ngram_jaccard_pairs
    from adhesive_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.1)
    comp = connected_components(pairs)
    n_components = comp.select("component").distinct().count()
    n_members = comp.count()
    out = M.q350_dedup_survivorship(spark, sf_dir).collect()
    assert sum(r.n_clustered for r in out) == n_members
    assert sum(r.n_kept for r in out) == n_components
    for r in out:
        assert r.n_clustered == r.n_kept + r.n_dropped
        assert 0 <= r.kept_q_mean <= 10_000
        assert r.drop_minus_keep == r.dropped_q_mean - r.kept_q_mean


def test_corpus_saturation_python_replay(spark, sf_dir):
    """Novel-shingle deciles replayed with a Python set sweep over the
    same distinct word-3-gram shingles in doc_id order."""
    from adhesive_spark.operators.dedup import word_shingles

    rows = sorted(
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", word_shingles(F.col("text"), 3).alias("grams")
        )
        .collect(),
        key=lambda r: r.doc_id,
    )
    first: dict[str, int] = {}
    for r in rows:
        for g in r.grams:
            first.setdefault(g, r.doc_id)
    max_id = max(r.doc_id for r in rows)
    agg: dict[int, list[int]] = {}
    for r in rows:
        d = min(r.doc_id * 10 // (max_id + 1), 9)
        a = agg.setdefault(d, [0, 0, 0])
        a[0] += 1
        a[1] += len(r.grams)
        a[2] += sum(1 for g in r.grams if first[g] == r.doc_id)
    out = {r.decile: r for r in M.q351_corpus_saturation(spark, sf_dir).collect()}
    assert set(out) == set(agg)
    for d, (n_docs, n_sh, novel) in agg.items():
        r = out[d]
        assert (r.n_docs, r.n_shingles, r.n_novel) == (n_docs, n_sh, novel)
        assert r.novel_ppm == novel * 1_000_000 // n_sh


def test_markov_steady_state_python_replay(spark, sf_dir):
    """3 integer power-iteration rounds replayed in Python from the
    query's own transition matrix — pins iteration order, rounding,
    and the zero-inbound-state handling."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select(
            F.lag("event_type").over(w).alias("f"),
            F.col("event_type").alias("t"),
        )
        .where(F.col("f").isNotNull())
        .groupBy("f", "t")
        .count()
        .collect()
    )
    counts = {(r.f, r.t): r["count"] for r in steps}
    states = sorted({f for f, _ in counts} | {t for _, t in counts})
    rt = {s: sum(c for (f, _), c in counts.items() if f == s) for s in states}
    p = {
        (f, t): c * 1_000_000 // rt[f] for (f, t), c in counts.items()
    }
    pi = {s: 1_000_000 // len(states) for s in states}
    for _ in range(3):
        nxt = {
            s: sum(
                pi[f] * p.get((f, s), 0) for f in states
            )
            // 1_000_000
            for s in states
        }
        sp = max(sum(nxt.values()), 1)
        pi = {s: nxt[s] * 1_000_000 // sp for s in states}
    out = {
        r.event_type: r
        for r in M.q352_markov_steady_state(spark, sf_dir).collect()
    }
    assert set(out) == set(states)
    for s in states:
        assert out[s].steady_ppm == pi[s], s
        assert out[s].out_steps == rt.get(s, 0)


def test_fano_poisson_calibration(spark):
    """A constant daily count has variance 0 → fano_ppm 0; a single
    burst day among zeros maximizes dispersion — checked on a synthetic
    frame via the same arithmetic."""
    # replay the formula only (the query function needs parquet):
    # constant: n*s2 == s*s -> 0; burst: n*c^2 - c^2 = (n-1)c^2
    n, c = 10, 7
    s, s2 = n * c, n * c * c
    assert (n * s2 - s * s) == 0
    s_b, s2_b = c, c * c
    fano_b = (n * s2_b - s_b * s_b) * 1_000_000 // (n * s_b)
    assert fano_b == (n - 1) * c * 1_000_000 // n


def test_burstiness_output_identities(spark, sf_dir):
    out = M.q353_burstiness_fano(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    assert sum(r.n_events for r in out) == ev.count()
    nd = {r.n_days for r in out}
    assert len(nd) == 1  # global spine, not per-type day lists
    for r in out:
        assert 0 <= r.peak_day_ppm <= 1_000_000


def test_quantization_fidelity_python_replay(spark, sf_dir):
    """int4 ranking fidelity replayed with exact Python integers:
    milli-quantize, c = x·7 div max|x| (trunc toward zero), both
    rankings with vec_id tie-breaks."""
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    mv = {
        r.vec_id: [round(float(x) * 1000) for x in r.embedding]
        for r in rows
    }

    def trunc_div(a, b):
        q = abs(a) * 7 // b
        return q if a >= 0 else -q

    c4 = {
        v: [trunc_div(x, max(max(abs(y) for y in m), 1)) for x in m]
        for v, m in mv.items()
    }
    out = {
        r.query_id: r
        for r in M.q354_quantization_fidelity(spark, sf_dir).collect()
    }
    corpus = sorted(v for v in mv if v >= 8)
    for q in range(8):
        full = sorted(
            corpus,
            key=lambda v: (-sum(a * b for a, b in zip(mv[q], mv[v])), v),
        )[:10]
        quant = sorted(
            corpus,
            key=lambda v: (-sum(a * b for a, b in zip(c4[q], c4[v])), v),
        )[:10]
        assert out[q].overlap10 == len(set(full) & set(quant))
        assert out[q].top1_match == (1 if full[0] == quant[0] else 0)


def test_diff_in_diff_python_replay(spark, sf_dir):
    """DiD replayed in exact Python integers: median distinct-day
    cutoff, cross-multiplied per-group differences, centi-cents."""
    from adhesive_spark.operators.text import scaled_long

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            scaled_long(F.col("value"), 2).alias("c"),
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .collect()
    )
    days = sorted({r.day for r in ev})
    cutoff = days[(len(days) + 1) // 2 - 1]
    cells: dict[tuple, list[int]] = {}
    for r in ev:
        if r.event_type not in ("purchase", "view"):
            continue
        k = (1 if r.event_type == "purchase" else 0, 1 if r.day > cutoff else 0)
        a = cells.setdefault(k, [0, 0])
        a[0] += 1
        a[1] += r.c

    def diff(t):
        (n0, s0), (n1, s1) = cells[(t, 0)], cells[(t, 1)]
        return (s1 * n0 - s0 * n1) * 100 // max(n1 * n0, 1)

    out = M.q355_diff_in_diff(spark, sf_dir).collect()[0]
    assert out.cutoff_day == cutoff
    assert out.n_t_pre == cells[(1, 0)][0] and out.n_c_post == cells[(0, 1)][0]
    assert out.did_c100 == diff(1) - diff(0)


def test_hll_union_overlap_identities(spark, sf_dir):
    """Union sketches obey inclusion bounds: est_union ≥ max single,
    est_union ≤ est_a + est_b (register max-merge can only grow);
    overlap in [0, 1e6 + slack] and symmetric pair count K·(K−1)/2."""
    out = M.q356_hll_union_overlap(spark, sf_dir).collect()
    srcs = {r.src_a for r in out} | {r.src_b for r in out}
    assert len(out) == len(srcs) * (len(srcs) - 1) // 2
    for r in out:
        assert r.est_union >= max(r.est_a, r.est_b) - 1  # integer trunc slack
        assert r.est_union <= r.est_a + r.est_b
        assert r.overlap_ppm >= 0


def test_aa_null_calibration_passes_on_real_split(spark, sf_dir):
    """The A/A split is a genuine null: every event type must report a
    non-significant p-value (the pipeline's own calibration contract —
    a failure here means the machinery, not the data)."""
    out = M.q357_aa_null_calibration(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert r.null_ok == 1, (r.event_type, r.p_value_ppm)
        assert r.p_value_ppm >= 1_000_000 // 65


def test_capture_recapture_python_replay(spark, sf_dir):
    """Chapman estimator replayed from the same fingerprint hash
    samples in Python."""
    from adhesive_spark.operators.text import fingerprint

    fps = {
        r.fp
        for r in load_table(spark, sf_dir, "documents")
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .collect()
    }
    import hashlib

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    n1 = sum(1 for f in fps if h32("cr1:" + f) % 10 == 0)
    n2 = sum(1 for f in fps if h32("cr2:" + f) % 10 == 0)
    m = sum(
        1
        for f in fps
        if h32("cr1:" + f) % 10 == 0 and h32("cr2:" + f) % 10 == 0
    )
    est = (n1 + 1) * (n2 + 1) // (m + 1) - 1
    r = M.q358_capture_recapture(spark, sf_dir).collect()[0]
    assert (r.n1, r.n2, r.m) == (n1, n2, m)
    assert r.exact_distinct == len(fps)
    assert r.est_chapman == est
    assert r.err_ppm == abs(est - len(fps)) * 1_000_000 // len(fps)


def test_ks_decode_survives_fourth_decade_magnitudes(spark):
    """r12 regression pin for the hv-decode overflow class: Spark's
    ``div`` operator returns BIGINT even for DECIMAL operands, so a
    decode that multiplies the div result re-enters long arithmetic —
    ks_drift's ``(enc div 100001) * 1000000`` overflowed ANSI int64 at
    the 10 000× stress rung once d_num crossed ~9.2e12 (the DuckDB
    HUGEINT oracle twin can never see this). This pins the re-widened
    expression (metrology_queries.ks_drift_report's final select) at a
    d_num three orders of magnitude past the boundary, with the exact
    integer result."""
    d_num = 5 * 10**15
    q_s, n_src, n_rest = 1234, 50_000_000, 950_000_000
    row = spark.sql(
        f"""
        SELECT CAST(CAST(enc div 100001 AS DECIMAL(38,0)) * 1000000
               div greatest(CAST(n_src AS DECIMAL(38,0)) * n_rest, 1)
               AS BIGINT) AS ks_ppm,
               CAST(enc % 100001 AS BIGINT) AS q_at_d
        FROM (SELECT CAST({d_num} AS DECIMAL(38,0)) * 100001 + {q_s}
                       AS enc,
                     CAST({n_src} AS BIGINT) AS n_src,
                     CAST({n_rest} AS BIGINT) AS n_rest)
        """
    ).collect()[0]
    assert row.q_at_d == q_s
    assert row.ks_ppm == d_num * 1_000_000 // (n_src * n_rest)
