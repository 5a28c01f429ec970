"""Property-based tests (hypothesis): the as-of join against pandas
merge_asof as an independent reference implementation, and DDL-parser
robustness over generated CREATE FUNCTION statements."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from adhesive_spark.functions.ddl import parse_create_function
from adhesive_spark.operators.asof import asof_join

# --- as-of join vs pandas.merge_asof ----------------------------------------

_times = st.lists(
    st.integers(min_value=0, max_value=1000), min_size=1, max_size=12
)
_keys = st.lists(
    st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(lt=_times, lk=_keys, rt=_times, rk=_keys)
def test_asof_matches_pandas_merge_asof(spark, lt, lk, rt, rk):
    left_rows = [
        (i, k, t) for i, (k, t) in enumerate(zip(lk, lt))
    ]
    # dedup right to one row per (key, time): merge_asof picks the LAST
    # duplicate, our window picks storage order — dedup removes the
    # only documented nondeterminism (asof.py:60-62)
    right_rows = list(
        {(k, t): (k, t, t * 10) for k, t in zip(rk, rt)}.values()
    )
    left = spark.createDataFrame(left_rows, "row_id long, k string, t long")
    right = spark.createDataFrame(right_rows, "k string, t long, payload long")

    got = {
        r.row_id: r.payload
        for r in asof_join(left, right, on="t", by="k").collect()
    }

    lpdf = pd.DataFrame(left_rows, columns=["row_id", "k", "t"]).sort_values(
        ["t", "row_id"]
    )
    rpdf = pd.DataFrame(
        right_rows, columns=["k", "t", "payload"]
    ).sort_values("t")
    merged = pd.merge_asof(
        lpdf, rpdf, on="t", by="k", direction="backward"
    )
    want = {
        int(r.row_id): (None if pd.isna(r.payload) else int(r.payload))
        for r in merged.itertuples()
    }
    assert got == want


# --- DDL parser properties ---------------------------------------------------

_ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,20}", fullmatch=True)
_types = st.sampled_from(["BIGINT", "INT", "DOUBLE", "FLOAT", "STRING"])
_body = st.text(
    alphabet=st.characters(
        blacklist_characters="'", blacklist_categories=("Cs",)
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=50, deadline=None)
@given(name=_ident, args=st.lists(_types, max_size=4), ret=_types, body=_body)
def test_ddl_parse_roundtrip(name, args, ret, body):
    arglist = ", ".join(args)
    sql = (
        f"CREATE FUNCTION {name}({arglist}) RETURNS {ret} "
        f"LANGUAGE PYTHON AS '{body}'"
    )
    d = parse_create_function(sql)
    assert d.name.lower() == name.lower()
    assert [t.upper() for t in d.arg_types] == args
    assert d.return_type.upper() == ret
    assert d.body == body
    assert d.language == "PYTHON"


@settings(max_examples=30, deadline=None)
@given(
    name=_ident,
    body=_body.filter(lambda s: "$$" not in s),
)
def test_ddl_dollar_quoted_body(name, body):
    sql = (
        f"CREATE OR REPLACE FUNCTION {name}(BIGINT) RETURNS BIGINT "
        f"LANGUAGE PYTHON AS $${body}$$"
    )
    d = parse_create_function(sql)
    assert d.or_replace
    assert d.body == body


def test_ddl_rejects_garbage():
    from adhesive_spark.errors import DdlParseError

    for bad in [
        "CREATE FUNCTION f() RETURNS BIGINT LANGUAGE PYTHON",  # no body
        "CREATE FUNCTION RETURNS BIGINT AS 'x'",  # no name/args
        "CREATE FUNCTION f(BIGINT) LANGUAGE PYTHON AS 'x'",  # no return
    ]:
        with pytest.raises(DdlParseError):
            parse_create_function(bad)


# --- cross-engine aggregation determinism ------------------------------------
# The scaled_long convention (operators/text.py) claims: for k-decimal
# grained doubles, SUM over round(x*10^k) longs is bit-identical between
# Spark and DuckDB even when the true total sits exactly on a rounding
# boundary — the case where ROUND(SUM(double)) flips with summation
# order. Adversarial inputs: cent values whose totals end in .50.

_cents = st.lists(
    st.integers(min_value=1, max_value=99_999),  # 0.01 .. 999.99
    min_size=1,
    max_size=60,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(cents=_cents)
def test_scaled_long_sum_matches_duckdb_exactly(spark, cents):
    import duckdb
    from pyspark.sql import functions as F

    from adhesive_spark.operators.text import scaled_long

    # force an adversarial .50-ending total half the time
    if sum(cents) % 100 != 50:
        cents = cents + [50 - (sum(cents) % 100) + 100]
    values = [c / 100.0 for c in cents]
    df = spark.createDataFrame([(v,) for v in values], "value double")
    got = df.agg(
        (F.sum(scaled_long(F.col("value"), 2)) / F.lit(100.0)).alias("s"),
        F.floor(
            F.sum(scaled_long(F.col("value"), 2)) / F.lit(100.0)
        ).alias("s0"),
    ).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(value DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    want = con.execute(
        "SELECT SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0,"
        "       floor(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0)"
        " FROM t"
    ).fetchone()
    # bit-exact equality — no tolerance — including the floored variant
    # that sits exactly on the boundary by construction
    assert got.s == want[0]
    assert got.s0 == want[1]
    # and the recovered total is the true cent total, not a drifted one
    assert got.s == sum(cents) / 100.0


# --- PPJoin vs brute-force Jaccard (python reference) ------------------------

_words = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
    min_size=1,
    max_size=10,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=st.lists(_words, min_size=2, max_size=6))
def test_ppjoin_matches_bruteforce(spark, texts):
    """ppjoin_pairs must return EXACTLY the brute-force Jaccard ≥ t
    pairs (lossless prefix filter) on arbitrary tiny corpora —
    including all-identical, all-disjoint, and single-shingle docs."""
    from adhesive_spark.operators.dedup import ppjoin_pairs

    t = 0.5
    docs = [(i, " ".join(ws)) for i, ws in enumerate(texts)]

    def shingles(s: str) -> frozenset:
        toks = s.split()
        if len(toks) < 3:
            return frozenset([s])
        return frozenset(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        )

    want = set()
    for i, (ia, ta) in enumerate(docs):
        for ib, tb in docs[i + 1 :]:
            sa, sb = shingles(ta), shingles(tb)
            if len(sa | sb) and len(sa & sb) / len(sa | sb) >= t:
                want.add((ia, ib))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in ppjoin_pairs(df, threshold=t).collect()
    }
    assert got == want


# --- systematic PPS invariants ----------------------------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    weights=st.lists(
        st.integers(min_value=1, max_value=1000), min_size=1, max_size=20
    )
)
def test_systematic_pps_invariants(spark, weights):
    """Per group: ≤ k picks, exactly k when no weight exceeds W/k, every
    pick_slot distinct, and any single row holding ≥ 2/k of the mass is
    ALWAYS picked (certainty unit)."""
    from adhesive_spark.operators.curation import systematic_pps_sample

    k = 4
    rows = [(i, "g", w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "id long, grp string, w long")
    picks = systematic_pps_sample(df, "w", "grp", "id", k=k).collect()

    W = sum(weights)
    assert len(picks) <= k
    if max(weights) * k <= W:
        assert len(picks) == k
    slots = [r.pick_slot for r in picks]
    assert len(slots) == len(set(slots))
    picked_ids = {r.id for r in picks}
    for i, w in enumerate(weights):
        if w * k >= 2 * W:
            assert i in picked_ids


# --- span dedup vs a sequential reference -----------------------------------


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=9
        ),
        min_size=1,
        max_size=5,
    )
)
def test_span_dedup_matches_sequential_reference(spark, texts):
    """span_dedup must agree with a sequential first-occurrence scan on
    arbitrary tiny corpora — including all-identical docs, within-doc
    repeats, and docs shorter than one span."""
    from adhesive_spark.operators.dedup import span_dedup

    k = 3
    docs = [(i, " ".join(ws)) for i, ws in enumerate(texts)]
    seen: set = set()
    want = {}
    for i, t in docs:
        toks = t.split()
        spans = [
            " ".join(toks[s : s + k])
            for s in range(0, max(len(toks) - 1, 0) + 1, k)
        ]
        kept = []
        for sp in spans:
            if sp not in seen:
                seen.add(sp)
                kept.append(sp)
        want[i] = (len(spans), len(kept), " ".join(kept))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_spans"], r["n_kept"], r["clean_text"])
        for r in span_dedup(df, span_tokens=k).collect()
    }
    assert got == want


# --- DDL roundtrip for the AGGREGATE / RETURNS TABLE forms ------------------


@settings(max_examples=25, deadline=None)
@given(
    name=_ident,
    args=st.lists(_types, min_size=1, max_size=3),
    ret=_types,
    body=_body,
    agg=st.booleans(),
)
def test_ddl_parse_aggregate_and_table(name, args, ret, body, agg):
    arglist = ", ".join(args)
    if agg:
        sql = (
            f"CREATE AGGREGATE FUNCTION {name}({arglist}) RETURNS {ret} "
            f"LANGUAGE PANDAS AS '{body}'"
        )
        d = parse_create_function(sql)
        assert d.aggregate and not d.returns_table
        assert d.return_type.upper() == ret
        assert d.language == "PANDAS"
    else:
        cols = ", ".join(f"c{i} {t}" for i, t in enumerate(args))
        sql = (
            f"CREATE FUNCTION {name}({arglist}) RETURNS TABLE ({cols}) "
            f"LANGUAGE PYTHON AS '{body}'"
        )
        d = parse_create_function(sql)
        assert d.returns_table and not d.aggregate
        assert d.return_type == cols
    assert d.name.lower() == name.lower()
    assert [t.upper() for t in d.arg_types] == args
    assert d.body == body


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    lt=_times,
    lk=_keys,
    rt=_times,
    rk=_keys,
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    strict=st.booleans(),
    tol=st.one_of(st.none(), st.integers(min_value=1, max_value=200)),
)
def test_asof_directions_match_pandas(
    spark, lt, lk, rt, rk, direction, strict, tol
):
    """Full merge_asof parity surface: every direction × strict
    (allow_exact_matches=False) × tolerance against pandas as the
    independent reference. Right side deduped to one row per (key,
    time) — the only documented nondeterminism."""
    left_rows = [(i, k, t) for i, (k, t) in enumerate(zip(lk, lt))]
    right_rows = list(
        {(k, t): (k, t, t * 10 + 1) for k, t in zip(rk, rt)}.values()
    )
    left = spark.createDataFrame(left_rows, "row_id long, k string, t long")
    right = spark.createDataFrame(right_rows, "k string, t long, payload long")

    got = {
        r.row_id: r.payload
        for r in asof_join(
            left,
            right,
            on="t",
            by="k",
            strict=strict,
            direction=direction,
            tolerance=tol,
        ).collect()
    }

    lpdf = pd.DataFrame(left_rows, columns=["row_id", "k", "t"]).sort_values(
        ["t", "row_id"]
    )
    rpdf = pd.DataFrame(
        right_rows, columns=["k", "t", "payload"]
    ).sort_values("t")
    merged = pd.merge_asof(
        lpdf,
        rpdf,
        on="t",
        by="k",
        direction=direction,
        allow_exact_matches=not strict,
        tolerance=tol,
    )
    want = {
        int(r.row_id): (None if pd.isna(r.payload) else int(r.payload))
        for r in merged.itertuples()
    }
    assert got == want


# --- CDC apply vs pandas reference -------------------------------------------

_ops = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),          # key
        st.integers(min_value=0, max_value=20),         # ts
        st.sampled_from(["upsert", "delete"]),
        st.integers(min_value=0, max_value=99),         # payload
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=_ops)
def test_apply_cdc_matches_pandas(spark, ops):
    """Latest-op-per-key-wins against an independent pandas reference:
    sort by (ts, eid), take each key's last op, drop deletes. The eid
    column (insertion index) makes the log's total order unique, so
    both implementations are deterministic."""
    from adhesive_spark.operators.incremental import apply_cdc

    rows = [(k, t, i, op, v) for i, (k, t, op, v) in enumerate(ops)]
    log = spark.createDataFrame(
        rows, "k int, ts int, eid int, op string, v int"
    )
    got = {
        r["k"]: r["v"]
        for r in apply_cdc(log, ["k"], ["ts", "eid"], "op").collect()
    }

    pdf = pd.DataFrame(rows, columns=["k", "ts", "eid", "op", "v"])
    last = (
        pdf.sort_values(["ts", "eid"]).groupby("k").tail(1)
    )
    want = {
        int(r.k): int(r.v) for r in last.itertuples() if r.op != "delete"
    }
    assert got == want


# --- weighted median vs direct expansion reference ---------------------------

_wvals = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),                    # group
        st.integers(min_value=0, max_value=50),         # value
        st.integers(min_value=1, max_value=9),          # weight
    ),
    min_size=1,
    max_size=20,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(rows=_wvals)
def test_weighted_median_matches_expansion(spark, rows):
    """The RANGE-frame weighted median (q185's shape) must equal the
    plain median of the weight-EXPANDED multiset (each value repeated
    weight times, lower-middle element) — the definition the windowed
    formulation compresses."""
    from pyspark.sql import functions as SF
    from pyspark.sql.window import Window

    df = spark.createDataFrame(rows, "g string, v long, w long")
    wt = Window.partitionBy("g")
    wr = (
        Window.partitionBy("g")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    x = df.select(
        "g",
        "v",
        SF.sum("w").over(wt).alias("total_w"),
        SF.sum("w").over(wr).alias("cum_w"),
    )
    got = {
        r["g"]: r["med"]
        for r in x.where(2 * SF.col("cum_w") >= SF.col("total_w"))
        .groupBy("g")
        .agg(SF.min("v").alias("med"))
        .collect()
    }

    want = {}
    for g in {r[0] for r in rows}:
        expanded = sorted(
            v for grp, v, w in rows if grp == g for _ in range(w)
        )
        # smallest v with 2*cumweight >= total == lower-middle element
        want[g] = expanded[(len(expanded) - 1) // 2]
    assert got == want


# --- interval_union vs a plain-Python sweep ---------------------------------

_iv_starts = st.lists(
    st.integers(min_value=0, max_value=500), min_size=1, max_size=20
)
_iv_keys = st.lists(
    st.sampled_from(["u1", "u2"]), min_size=1, max_size=20
)


def _py_interval_union(pairs, ttl):
    """Reference: merge [s, s+ttl) intervals per key, return
    {key: (n_islands, covered)}."""
    out = {}
    by_key = {}
    for k, s in pairs:
        by_key.setdefault(k, []).append(s)
    for k, starts in by_key.items():
        starts.sort()
        islands = 0
        covered = 0
        cur_s = cur_e = None
        for s in starts:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, s + ttl
                islands += 1
            else:
                cur_e = max(cur_e, s + ttl)
        covered += cur_e - cur_s
        out[k] = (islands, covered)
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(starts=_iv_starts, keys=_iv_keys)
def test_interval_union_matches_python(spark, starts, keys):
    from pyspark.sql import functions as F

    from adhesive_spark.operators.asof import interval_union

    pairs = list(zip(keys, starts))
    ttl = 50
    df = spark.createDataFrame(pairs, "k string, s long").withColumn(
        "e", F.col("s") + F.lit(ttl)
    )
    got = {
        r["k"]: (r["n_islands"], r["covered"])
        for r in interval_union(df, "k", "s", "e").collect()
    }
    assert got == _py_interval_union(pairs, ttl)
    # the salted (salt-then-merge) engine must agree on every drawn
    # interval set — n_salts=3 guarantees real splits at these sizes
    salted = {
        r["k"]: (r["n_islands"], r["covered"])
        for r in interval_union(
            df, "k", "s", "e", engine="salted", n_salts=3
        ).collect()
    }
    assert salted == got


# --- exact_quantile_ladder vs sorted-list indexing ---------------------------

_vals = st.lists(
    st.integers(min_value=-5000, max_value=5000), min_size=1, max_size=40
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(vals=_vals)
def test_quantile_ladder_matches_sorted_list(spark, vals):
    from adhesive_spark.operators.quality import exact_quantile_ladder

    quants = [("p25", 25, 100), ("p50", 50, 100), ("p99", 99, 100)]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v long")
    got = {
        r["quantile"]: r["value"]
        for r in exact_quantile_ladder(df, "g", "v", quants).collect()
    }
    vs = sorted(vals)
    n = len(vs)
    for name, num, den in quants:
        k = (n * num + den - 1) // den
        assert got[name] == vs[k - 1], (name, vals)


# --- exact AUC vs the pairwise definition ------------------------------------

_scores = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),  # score (cents)
        st.integers(min_value=0, max_value=1),     # label
    ),
    min_size=2,
    max_size=30,
).filter(
    lambda rows: any(l == 1 for _, l in rows) and any(l == 0 for _, l in rows)
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(rows=_scores)
def test_auc_ppm_matches_pairwise_definition(spark, rows):
    """The per-score rank-sum AUC (eval_queries.auc_ppm) must equal
    the textbook pairwise (wins + ties/2) / (P*N) on arbitrary small
    labeled sets — ties, negatives, and duplicates included."""
    from adhesive_spark.queries.eval_queries import auc_ppm

    labeled = spark.createDataFrame(rows, "cents long, label long")
    got = auc_ppm(labeled).collect()[0]

    pos = [c for c, l in rows if l == 1]
    neg = [c for c, l in rows if l == 0]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    want = 500000 * (2 * wins + ties) // (len(pos) * len(neg))
    assert got.n_pos == len(pos) and got.n_neg == len(neg)
    assert got.auc_ppm == want


# --- star CC vs min-label CC on random graphs ---------------------------------

_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(edges=_edges)
def test_star_cc_equals_min_label_on_random_graphs(spark, edges):
    """Large-star/small-star and min-label propagation must label every
    random graph identically (component = min reachable node), self
    loops and duplicate edges included."""
    from _twins import connected_components_minlabel
    from adhesive_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    # reference = the distributed min-label propagation; star runs with
    # the default gate, i.e. the driver-side union-find finish — so
    # every random example proves local == distributed labeling, not
    # the local solver against itself
    want = {
        (r.node, r.component)
        for r in connected_components_minlabel(df).collect()
    }
    got = {
        (r.node, r.component)
        for r in connected_components(df).collect()
    }
    assert got == want


# --- containment pairs vs brute-force python shingles -------------------------

_words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "echo", "fox", "golf", "hotel"]
)
_docs = st.lists(
    st.lists(_words, min_size=1, max_size=12).map(" ".join),
    min_size=2,
    max_size=6,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=_docs)
def test_containment_pairs_match_bruteforce(spark, texts):
    """containment_pairs over random small corpora must equal the
    brute-force python computation over the same distinct word-3-gram
    shingle sets (whole-doc shingle for short docs), with the same
    ppm truncation and either-direction threshold."""
    from adhesive_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    got = {
        (r.id_a, r.id_b): (r.cont_ab_ppm, r.cont_ba_ppm, r.jaccard_ppm)
        for r in containment_pairs(
            df, "text", "doc_id", n=3, threshold_ppm=300_000
        ).collect()
    }

    def shingles(t):
        toks = " ".join(t.lower().split()).split(" ")
        if len(toks) - 2 >= 1:
            return {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }
        return {" ".join(toks)}

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    want = {}
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            common = len(sets[a] & sets[b])
            if not common:
                continue
            ab = common * 1_000_000 // len(sets[a])
            ba = common * 1_000_000 // len(sets[b])
            jac = common * 1_000_000 // len(sets[a] | sets[b])
            if ab >= 300_000 or ba >= 300_000:
                want[(a, b)] = (ab, ba, jac)
    assert got == want


# --- rendezvous bucketing vs a hashlib reference ------------------------------

_hrw_keys = st.lists(
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=20,
    unique=True,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(keys=_hrw_keys, n=st.integers(min_value=2, max_value=8))
def test_rendezvous_matches_hashlib_and_is_stable(spark, keys, n):
    """rendezvous_bucket == an independent hashlib argmax replay for
    every key, and growing n -> n+1 only ever moves keys INTO the new
    bucket (the HRW contract, on arbitrary generated key sets)."""
    import hashlib

    from pyspark.sql import functions as F

    from adhesive_spark.operators.skew import rendezvous_bucket

    def ref_bucket(key: str, nb: int) -> int:
        best = max(
            (
                int(
                    hashlib.md5(f"hrw:{b}:{key}".encode()).hexdigest()[:8],
                    16,
                )
                * 64
                + b
            )
            for b in range(nb)
        )
        return best % 64

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = {
        r.k: (r.bn, r.bn1)
        for r in df.select(
            "k",
            rendezvous_bucket(F.col("k"), n).alias("bn"),
            rendezvous_bucket(F.col("k"), n + 1).alias("bn1"),
        ).collect()
    }
    for k in keys:
        bn, bn1 = got[k]
        assert bn == ref_bucket(k, n)
        assert bn1 == ref_bucket(k, n + 1)
        assert bn1 == bn or bn1 == n  # moves only into the NEW bucket
