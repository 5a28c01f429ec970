"""Contract tests for the training-run assembly family
(training_queries, q280+): each metric is replayed in plain Python over
the collected inputs, so the distributed integer arithmetic is checked
against an independent straight-line implementation — not just against
DuckDB's identical SQL.
"""

import hashlib
import math

from pyspark.sql import functions as F

from adhesive_spark.queries.training_queries import (
    q282_shard_manifest,
    q283_ivf_occupancy,
    q284_pass_at_k,
    q285_dedup_policy_delta,
    q286_epoch_shuffle_audit,
    q288_hrw_rebalance,
    q289_sequence_windows,
)
from adhesive_spark.sources.registry import load_table


def test_pass_at_k_matches_python_replay(spark, sf_dir):
    """The in-row telescoped-product pass@k must equal the textbook
    1 - C(n-c,k)/C(n,k) computed with math.comb per task."""
    ev = load_table(spark, sf_dir, "events")
    rows = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "value")
        .collect()
    )
    by_task: dict[int, list] = {}
    for r in rows:
        by_task.setdefault(r.user_id, []).append(r)
    want = {}
    for k in (1, 5, 10):
        ppms = []
        for attempts in by_task.values():
            first = sorted(attempts, key=lambda r: r.event_id)[:20]
            n = len(first)
            if n < k:
                continue
            c = sum(
                1
                for r in first
                if int(round(r.value * 100)) % 3 == 0
            )
            if n - c < k:
                ppms.append(1_000_000)
            else:
                num = math.comb(n - c, k)
                den = math.comb(n, k)
                ppms.append(1_000_000 - num * 1_000_000 // den)
        want[k] = (len(ppms), sum(ppms) // len(ppms))
    got = {
        r.k: (r.n_tasks, r.mean_pass_ppm)
        for r in q284_pass_at_k(spark, sf_dir).collect()
    }
    assert got == want


def test_hrw_moves_fraction_near_4_of_20(spark, sf_dir):
    """Rendezvous hashing's whole point: a 16→20 resize moves ~4/20 of
    keys (each key moves iff one of the 4 new shards wins its argmax),
    while mod hashing moves the vast majority. Also replay HRW in
    Python for exactness."""
    rows = {r.policy: r for r in q288_hrw_rebalance(spark, sf_dir).collect()}
    assert rows["mod"].n_keys == rows["hrw"].n_keys
    # mod rehash moves ~1 - 1/lcm-ish: far more than HRW
    assert rows["mod"].moved_ppm > 3 * rows["hrw"].moved_ppm
    # HRW near the 200000 ppm expectation (wide tolerance, small corpora)
    assert 100_000 < rows["hrw"].moved_ppm < 320_000

    docs = [
        str(r.doc_id)
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    moved = 0
    for key in docs:
        scores = [h32(f"{key}:{s}") for s in range(20)]
        s16 = max(range(16), key=lambda s: (scores[s], s))
        s20 = max(range(20), key=lambda s: (scores[s], s))
        moved += s16 != s20
    assert rows["hrw"].n_moved == moved


def test_epoch_samples_disjointness(spark, sf_dir):
    """Epoch samples must be ~10% each and pairwise-independent (their
    jaccard far below the 100%-overlap a broken reshuffle would show)."""
    rows = q286_epoch_shuffle_audit(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == 3
    for r in rows:
        for n in (r.n_a, r.n_b):
            assert 0.04 * n_docs < n < 0.18 * n_docs  # ~10% each
        # independence: overlap jaccard ≈ 1/19, nowhere near same-set
        assert r.jaccard_ppm < 250_000


def test_shard_manifest_conserves_and_caps(spark, sf_dir):
    """Shard cuts must conserve docs/chars and respect the cut rule: a
    shard only exceeds the 8 KiB target by at most its last doc (cuts
    happen on the cumulative sum BEFORE each doc)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    rows = q282_shard_manifest(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.n_shards >= 1
        assert r.min_shard_chars > 0


def test_ivf_occupancy_is_a_distribution(spark, sf_dir):
    """Occupancy shares must sum to ~1e6 (truncation only), ranks must
    be 1..16 in non-increasing occupancy, and the cumulative share must
    end at ~1e6."""
    rows = sorted(
        q283_ivf_occupancy(spark, sf_dir).collect(), key=lambda r: r.rank
    )
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    occ = [r.n_vecs for r in rows]
    assert occ == sorted(occ, reverse=True)
    total_ppm = sum(r.share_ppm for r in rows)
    assert 1_000_000 - len(rows) <= total_ppm <= 1_000_000
    assert 1_000_000 - len(rows) <= rows[-1].cum_share_ppm <= 1_000_000


def test_dedup_ladder_subset_invariant(spark, sf_dir):
    """Exact-removed ⊆ bow-removed per source (identical raw text ⇒
    identical sorted tokens, both keep min doc_id), so bow_extra ≥ 0
    and the ladder is monotone."""
    for r in q285_dedup_policy_delta(spark, sf_dir).collect():
        assert 0 <= r.removed_exact <= r.removed_bow <= r.n_docs
        assert r.bow_extra == r.removed_bow - r.removed_exact


def test_sequence_windows_closed_form(spark, sf_dir):
    """The closed-form window count must equal enumerating windows over
    per-user counts directly."""
    ev = load_table(spark, sf_dir, "events")
    counts = [
        r["cnt"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    ]
    got = {
        (r.max_len, r.stride): (r.n_users, r.n_windows, r.dropped_events)
        for r in q289_sequence_windows(spark, sf_dir).collect()
    }
    for max_len, stride in ((32, 16), (32, 32), (64, 32)):
        n_windows = dropped = 0
        for n in counts:
            if n < max_len:
                n_windows += 1
            else:
                w = (n - max_len) // stride + 1
                n_windows += w
                dropped += n - (max_len + (w - 1) * stride)
        assert got[(max_len, stride)] == (len(counts), n_windows, dropped)


def test_harmonic_closeness_bounds(spark, sf_dir):
    """Harmonic milli per seed is bounded by its 3-hop reach: every
    reached node contributes at most 1000 (d=1) and at least 333 (d=3),
    and the multi-source BFS must produce exactly the 5 lowest seeds."""
    from adhesive_spark.queries.training_queries import (
        q302_harmonic_closeness,
    )

    rows = q302_harmonic_closeness(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 333 * r.n_reached_3hop <= r.harmonic_milli
        assert r.harmonic_milli <= 1000 * r.n_reached_3hop


def test_token_gini_replay(spark, sf_dir):
    """The per-distinct-value Gini must equal the textbook sorted-rank
    formula computed directly over the collected token counts."""
    from pyspark.sql import functions as F

    from adhesive_spark.operators.text import token_estimate_bpe
    from adhesive_spark.queries.training_queries import q303_token_gini
    from adhesive_spark.sources.registry import load_table

    toks = sorted(
        r.toks
        for r in load_table(spark, sf_dir, "documents")
        .select(token_estimate_bpe(F.col("text")).alias("toks"))
        .collect()
    )
    n, t2 = len(toks), sum(toks)
    t1 = sum((i + 1) * x for i, x in enumerate(toks))
    want = (2 * t1 - (n + 1) * t2) * 1_000_000 // (n * t2)
    got = {
        r.source: r for r in q303_token_gini(spark, sf_dir).collect()
    }["ALL"]
    assert (got.n_docs, got.total_tokens, got.gini_ppm) == (n, t2, want)
    assert 0 <= got.gini_ppm < 1_000_000


def test_gopher_counts_zero_gram_docs(spark):
    """A document with <2 tokens produces no gram rows, but must still
    count toward n_docs with all-zero fail flags — on BOTH sides.  The
    sf fixtures never contain such docs (min 10 tokens), so this is the
    only coverage of the oracle's LEFT JOIN rollup (r7 ADVICE #1)."""
    import duckdb
    import pandas as pd

    from adhesive_spark.queries.training_queries import (
        TRAINING_ORACLES,
        gopher_repetition_report,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "source": ["web", "web", "web", "book"],
            # 1-token, 0-token, diverse (no gram > 20% of chars), and a
            # top2-failing repeater
            "text": [
                "one",
                "",
                " ".join(f"w{i:02d}" for i in range(30)),
                "spam ham " * 30,
            ],
        }
    )
    got = {
        r.source: r
        for r in gopher_repetition_report(spark.createDataFrame(pdf)).collect()
    }
    assert got["web"].n_docs == 3  # the <2-token docs still counted
    assert got["web"].fail_top2 == 0
    assert got["book"].fail_top2 == 1

    con = duckdb.connect()
    con.register("documents", pdf)
    want = {
        r[0]: r
        for r in con.execute(
            TRAINING_ORACLES["q281_gopher_repetition"]
        ).fetchall()
    }
    for src, row in got.items():
        assert tuple(row) == tuple(want[src]), src


def test_gopher_vectorized_matches_hof_twin(spark, sf_dir):
    """The Arrow-batched gopher kernel (~7× the HOF lanes' whole-box
    throughput) must be bit-equal to the pure-Catalyst HOF reference
    twin (tests/_twins.py): same per-source n_docs and all six
    fail counters, on the real corpus AND on the adversarial edge docs
    (0/1-token, heavy repeater) from the zero-gram test."""
    import pandas as pd

    from _twins import gopher_repetition_report_hof
    from adhesive_spark.queries.training_queries import (
        gopher_repetition_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    edge = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [900001, 900002, 900003, 900004],
                "source": ["web", "web", "web", "book"],
                "text": [
                    "one",
                    "",
                    " ".join(f"w{i:02d}" for i in range(30)),
                    "spam ham " * 30,
                ],
            }
        )
    )
    both = docs.select("doc_id", "source", "text").unionByName(edge)
    vec = {
        r.source: tuple(r)
        for r in gopher_repetition_report(both).collect()
    }
    hof = {
        r.source: tuple(r)
        for r in gopher_repetition_report_hof(both).collect()
    }
    assert vec == hof
