"""Unit tests for the pipeline operators (dedup / similarity / text /
as-of / multimodal) on small in-memory data with hand-computed goldens.
"""

import math

import pytest
from pyspark.sql import functions as F

from adhesive_spark.operators.asof import asof_join
from adhesive_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_signatures,
)
from adhesive_spark.operators.multimodal import (
    decode_media,
    frame_sample_plan,
    synthesize_media,
)
from adhesive_spark.operators.similarity import (
    cosine,
    embedding_neardup_pairs,
    knn_bruteforce,
    knn_lsh,
)
from adhesive_spark.operators.text import text_profile


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("today", "tomorrow")),  # near dup of 0
        (3, "completely different text about spark query engines and joins"),
        (4, "der hund ist nicht mit der katze und das ist gut"),
        (5, "le chat est sur la table et le chien est pour moi"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_keeps_min_id(docs):
    out = dedup_exact(docs, "text", "doc_id")
    ids = {r.doc_id for r in out.collect()}
    assert 0 in ids and 1 not in ids  # doc 1 is the exact dup, doc 0 survives
    assert {2, 3, 4, 5, 6} <= ids
    dup = {r.doc_id: r.dup_count for r in out.collect()}
    assert dup[0] == 2 and dup[3] == 1


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical
    assert (0, 2) in pairs and 0.5 < pairs[(0, 2)] < 1.0  # near dup
    assert not any(3 in p or 4 in p or 5 in p for p in pairs)


def test_ngram_jaccard_hot_shingle_cap(spark):
    # pathological corpus: every doc shares one ubiquitous shingle.
    # Uncapped, that shingle alone makes all docs pairwise candidates
    # (the quadratic bucket); with the df cap it leaves the candidate
    # join and the intersection undercounts by exactly that shingle.
    rows = [(i, f"a x{i}") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, n=1, threshold=0.3, max_shingle_df=None
        ).collect()
    }
    assert len(uncapped) == 6  # all pairs share 'a': jaccard = 1/3
    capped = ngram_jaccard_pairs(df, n=1, threshold=0.3, max_shingle_df=2).collect()
    assert capped == []  # 'a' (df=4 > 2) no longer generates candidates


def test_connected_components_raises_when_unconverged(spark):
    import pytest
    from adhesive_spark.operators.graph import connected_components

    # a path graph 0-1-2-...-9 is no star forest, so one alternating
    # round cannot reach (and confirm) the fixpoint; max_rounds=1 must
    # fail loudly instead of returning partial labels
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    # local_threshold=0: the loud-failure contract belongs to the
    # DISTRIBUTED loop — with the default gate this tiny graph would be
    # solved on the driver and (correctly) never raise
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_rounds=1, local_threshold=0)
    full = connected_components(edges, local_threshold=0)
    assert {r.component for r in full.collect()} == {0}


def test_minhash_lsh_matches_exact_on_clear_cases(docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.3, num_perm=64, bands=16).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_dedup_minhash_drops_higher_ids(docs):
    ids = {r.doc_id for r in dedup_minhash(docs, threshold=0.3).collect()}
    assert 0 in ids and 1 not in ids and 2 not in ids
    assert {3, 4, 5, 6} <= ids


def test_simhash_identical_and_near(docs):
    sigs = {r.id: r.simhash for r in simhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]
    # near-dup differs in few bits
    ham02 = bin(sigs[0] ^ sigs[2]).count("1")
    ham03 = bin(sigs[0] ^ sigs[3]).count("1")
    assert ham02 < ham03
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs, max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0


def test_text_profile_golden(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog! THE END.")], "doc_id long, text string"
    )
    row = text_profile(df).collect()[0]
    # norm: "the cat and the dog! the end." → 7 tokens
    assert row.n_tokens == 7
    assert row.n_chars_computed == 29
    # stopwords: the, and, the, the → 4/7 floored to 4 decimals
    assert row.stop_ratio == math.floor(4 / 7 * 10000) / 10000
    assert row.p_punct == math.floor(2 / 29 * 10000) / 10000  # "!" and "."
    assert row.lang_pred == "en"
    assert len(row.doc_fp) == 32


def test_knn_bruteforce_golden(spark):
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0]),
            (11, [0.0, 1.0]),
            (12, [1.0, 1.0]),
            (13, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    out = knn_bruteforce(corpus, queries, k=3).collect()
    assert [r.vec_id for r in out] == [10, 12, 11]
    assert out[0].sim == 1.0
    assert abs(out[1].sim - 1 / math.sqrt(2)) < 1e-6


def test_knn_lsh_recalls_identical(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(10, 60)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.where(F.col("vec_id") == 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = knn_lsh(corpus, queries, dim=3, k=3, n_planes=4).collect()
    # the identical vector must be rank 1 (same bucket by construction)
    assert out[0].vec_id in (10, 17, 24)  # i%7, (i*3)%5 collide every 35


def test_embedding_neardup_exact_vs_lsh(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0]),
        (2, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = embedding_neardup_pairs(
        df, threshold=0.99, allow_full_cross=True
    ).collect()
    assert {(r.id_a, r.id_b) for r in exact} == {(0, 1)}
    lsh = embedding_neardup_pairs(
        df, threshold=0.99, use_lsh=True, dim=3, n_planes=4
    ).collect()
    assert {(r.id_a, r.id_b) for r in lsh} == {(0, 1)}


def test_embedding_neardup_refuses_unblocked_cross(spark):
    import pytest

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="nested-loop"):
        embedding_neardup_pairs(df, threshold=0.9)


def test_embedding_neardup_blocked_matches_full_within_blocks(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.999, 0.001, 0.0], 0),
        (2, [0.998, 0.002, 0.0], 1),  # near 0/1 but in another block
        (3, [0.0, 1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(
            df, threshold=0.99, block_col="label"
        ).collect()
    }
    # only the intra-block near-dup pair; cross-block (0,2)/(1,2) excluded
    assert got == {(0, 1)}


def test_asof_join_golden(spark):
    left = spark.createDataFrame(
        [(1, 100, 10.0), (1, 200, 20.0), (2, 150, 15.0), (3, 50, 5.0)],
        "k long, t long, lv double",
    )
    right = spark.createDataFrame(
        [(1, 90, "a"), (1, 150, "b"), (1, 200, "c"), (2, 150, "d")],
        "k long, t long, rv string",
    )
    out = {
        (r.k, r.t): r.rv
        for r in asof_join(left, right, on="t", by="k").collect()
    }
    assert out[(1, 100)] == "a"
    assert out[(1, 200)] == "c"  # <= semantics: equal timestamp matches
    assert out[(2, 150)] == "d"
    assert out[(3, 50)] is None  # no prior right row → NULL (left join)
    strict = {
        (r.k, r.t): r.rv
        for r in asof_join(left, right, on="t", by="k", strict=True).collect()
    }
    assert strict[(1, 200)] == "b"  # strict <: equal ts excluded
    assert strict[(2, 150)] is None


def test_multimodal_decode_plumbing(docs):
    media = synthesize_media(docs.where(F.col("text") != ""))
    assert media.schema["payload"].dataType.typeName() == "binary"
    decoded = decode_media(media)
    rows = decoded.collect()
    assert len(rows) == 6
    for r in rows:
        assert r.content_sha is not None and len(r.content_sha) == 16
        if r.media_type == "image":
            assert 64 <= r.width <= 255 and r.n_frames is None
        if r.media_type == "video":
            assert r.n_frames is not None
        if r.media_type == "audio":
            assert r.width is None
    # determinism across runs
    assert decoded.collect() == rows


def test_multimodal_real_codec_parses_genuine_bytes(spark):
    """codec='real': WAV/PPM/Y4M payloads decode from their actual
    bytes (chunk walk / header parse), unknown bytes give NULL dims."""
    from adhesive_spark.operators.multimodal import (
        synthesize_real_media,
        wav_bytes,
        ppm_bytes,
        y4m_bytes,
        _parse_wav,
        _parse_ppm,
        _parse_y4m,
    )

    # the builders emit genuinely-valid formats (stdlib wave round-trip)
    import io
    import wave as wave_mod

    wb = wav_bytes(1600, 8000, seed=9)
    with wave_mod.open(io.BytesIO(wb)) as w:
        assert (w.getnframes(), w.getframerate()) == (1600, 8000)
    # canonical wave-writer layout: data chunk body starts at 44,
    # mono 16-bit → block_align 2
    assert _parse_wav(wb) == (200, 1600, 8000, 44, 2, 1, 16)
    assert _parse_ppm(ppm_bytes(10, 6, seed=2)) == (10, 6)
    yw, yh, yn, yoffs = _parse_y4m(y4m_bytes(8, 6, 3, seed=1))
    assert (yw, yh, yn) == (8, 6, 3)
    # bare FRAME\n headers: body = hdr + 6; frames tile back-to-back
    assert all(body == hdr + 6 for hdr, body in yoffs)
    assert [hdr for hdr, _ in yoffs] == [
        len(b"YUV4MPEG2 W8 H6 F25:1 C420\n") + i * (6 + 8 * 6 + 2 * 4 * 3)
        for i in range(3)
    ]
    # a parameterized frame header (valid Y4M) parses with the real
    # newline offset — consumers must slice at body, not hdr+6
    yb = y4m_bytes(8, 6, 2, seed=1)
    pos = yb.find(b"FRAME\n")
    param = yb[:pos] + b"FRAME Ixy\n" + yb[pos + 6 :]
    pw, ph, pn, poffs = _parse_y4m(param)
    assert (pw, ph, pn) == (8, 6, 2)
    assert poffs[0] == (pos, pos + 10)
    # corrupt/truncated payloads are rejected, not misparsed
    assert _parse_wav(wb[:-5]) is None
    assert _parse_ppm(b"P6\n10 6\n255\n" + bytes(10)) is None

    docs = spark.range(12).withColumnRenamed("id", "doc_id")
    decoded = decode_media(synthesize_real_media(docs), codec="real")
    rows = {r.media_id: r for r in decoded.collect()}
    assert len(rows) == 12
    for did, r in rows.items():
        if did % 3 == 1:  # WAV: exact duration from fmt+data chunks
            ns = 800 + (did % 64) * 8
            assert r.duration_ms == ns * 1000 // 8000
            assert r.n_bytes == 44 + 2 * ns and r.width is None
        elif did % 3 == 0:  # PPM: header width/height
            assert r.width == 4 + did % 60
            assert r.height == 4 + (did // 7) % 60
            assert r.n_frames is None
        else:  # Y4M: frame walk count
            assert r.n_frames == 1 + did % 12
            assert r.width == 2 * (2 + did % 29)

    # strict mode: non-media bytes -> NULL features (no hash fallback)
    plain = decode_media(synthesize_media(docs.withColumn("text", F.lit("hello"))), codec="real")
    for r in plain.collect():
        assert r.width is None and r.duration_ms is None and r.n_frames is None
        assert r.content_sha is not None  # hash/meta always real


def test_multimodal_auto_codec_preserves_stub_fallback(docs):
    """codec='auto' (the default) must decode text payloads identically
    to the historical stub path — the contract that keeps q40/q41/q64/
    q81/q143/q155 outputs stable."""
    auto = decode_media(synthesize_media(docs), codec="auto").collect()
    stub = decode_media(synthesize_media(docs), codec="stub").collect()
    assert sorted(auto) == sorted(stub)


def test_frame_sample_counts(docs):
    decoded = decode_media(synthesize_media(docs))
    plan = frame_sample_plan(decoded, every_n=10)
    got = {r.media_id: r["cnt"] for r in plan.groupBy("media_id").agg(F.count("*").alias("cnt")).collect()}
    vids = {r.media_id: r.n_frames for r in decoded.where(F.col("media_type") == "video").collect()}
    for mid, nf in vids.items():
        assert got[mid] == (nf - 1) // 10 + 1


def test_column_profile(spark):
    from adhesive_spark.operators.quality import column_profile

    df = spark.createDataFrame(
        [(1, 2.0, "x"), (2, None, "y"), (3, 8.5, None), (3, 1.0, "x")],
        "k long, v double, s string",
    )
    prof = {r.column: r for r in column_profile(df).collect()}
    assert prof["k"].n_rows == 4
    assert prof["k"].n_null == 0 and prof["k"].n_distinct == 3
    assert prof["k"].vmin == 1.0 and prof["k"].vmax == 3.0
    assert prof["v"].n_null == 1 and prof["v"].vmax == 8.5
    assert prof["s"].n_null == 1 and prof["s"].n_distinct == 2
    assert prof["s"].vmin is None  # non-numeric: no min/max by design


def test_fk_orphans(spark):
    from adhesive_spark.operators.quality import fk_orphans

    child = spark.createDataFrame(
        [(1,), (2,), (2,), (99,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    got = {r.fk: r.n_rows for r in fk_orphans(child, parent, "fk", "pk").collect()}
    assert got == {99: 1}  # NULL excluded, 1/2 matched


def test_kmeans_separates_clusters(spark):
    from adhesive_spark.operators.clustering import kmeans

    # two tight clusters along orthogonal axes; seeds 0 and 1 fall one
    # in each, so 2-means must converge to the cluster means
    rows = [
        (0, [1.0, 0.0, 0.1]), (2, [0.9, 0.1, 0.0]), (4, [1.1, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.1]), (3, [0.1, 0.9, 0.0]), (5, [0.0, 1.1, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = kmeans(df, k=2, n_iter=3)
    got = {}
    for r in cent.collect():
        got.setdefault(r.cid, {})[r.pos] = r.val
    assert set(got) == {0, 1}
    # cluster 0 ≈ x-axis heavy, cluster 1 ≈ y-axis heavy
    assert got[0][0] > 0.9 and got[0][1] < 0.1
    assert got[1][1] > 0.9 and got[1][0] < 0.1


def test_merge_rollup_invariant(spark):
    from adhesive_spark.operators.incremental import merge_rollup, rollup_events

    events = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", -2.0), ("c", 5.0)],
        "event_type string, value double",
    )
    old = rollup_events(events.limit(2), ["event_type"])
    delta = rollup_events(
        events.subtract(events.limit(2)), ["event_type"]
    )
    # keys only in one side must survive with that side's state
    merged = {
        r.event_type: (r.n, r.value_sum_c, r.value_min, r.value_max)
        for r in merge_rollup(old, delta, ["event_type"]).collect()
    }
    full = {
        r.event_type: (r.n, r.value_sum_c, r.value_min, r.value_max)
        for r in rollup_events(events, ["event_type"]).collect()
    }
    assert merged == full


def test_chunking_reconstructs_and_packs(spark, sf_dir):
    """Invariants tying q85/q87 together: with stride == chunk_size the
    chunks partition the token stream exactly (joining them rebuilds the
    normalized text), chunk_ids are dense from 0, and sequence packing
    assigns non-decreasing seq_idx along each group's pack order."""
    from adhesive_spark.operators.text import (
        chunk_documents,
        normalize_text,
        pack_sequences,
    )
    from adhesive_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    chunks = chunk_documents(docs, "text", "doc_id", chunk_size=32, stride=32)
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text")))
                .getField("chunk_text")
            ).alias("rebuilt"),
            F.count("*").alias("n_chunks"),
            F.max("chunk_id").alias("max_chunk"),
        )
    )
    joined = rebuilt.join(
        docs.select("doc_id", normalize_text(F.col("text")).alias("norm")),
        "doc_id",
    )
    bad = joined.where(F.col("rebuilt") != F.col("norm")).count()
    assert bad == 0
    # dense chunk ids
    assert joined.where(F.col("max_chunk") != F.col("n_chunks") - 1).count() == 0
    # packing: seq_idx non-decreasing in pack order, starts at 0 per group
    packed = pack_sequences(
        chunks.withColumn("grp", F.lit("all")), "grp", ["doc_id", "chunk_id"],
        seq_tokens=128,
    )
    rows = packed.orderBy("doc_id", "chunk_id").select("seq_idx").collect()
    seqs = [r.seq_idx for r in rows]
    assert seqs[0] == 0
    assert all(a <= b for a, b in zip(seqs, seqs[1:]))


def test_pandas_api_on_spark_interop(spark, sf_dir):
    """pandas API on Spark: the dataframe-library surface compiles to the
    same Catalyst plans — a pandas-style groupby over the real table must
    equal the SQL/DataFrame result exactly (ecosystem parity: a pandas
    user switches API, not engine)."""
    import pyspark.pandas as ps

    from adhesive_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders")
    pdf = orders.pandas_api()
    got = (
        pdf.groupby("o_orderpriority")["o_totalprice"]
        .count()
        .sort_index()
        .to_pandas()
    )
    want = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got.to_dict() == want
    assert isinstance(pdf, ps.DataFrame)


def test_sketch_envelope_raw_estimates(spark, sf_dir):
    """q89/q90 surface engine-specific sketch estimates as CONTRACT
    booleans (hash-stable across engines); a drift past the envelope
    would show up in the driver as an opaque boolean hash mismatch.
    This test keeps the drift diagnosable: it recomputes the RAW
    estimates and asserts the same 5% envelope with the actual numbers
    in the failure message."""
    from adhesive_spark.sources.registry import load_table

    events = load_table(spark, sf_dir, "events")
    exact = events.agg(F.countDistinct("user_id")).first()[0]
    est = (
        events.groupBy("event_type")
        .agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))"))
        .first()[0]
    )
    assert abs(est - exact) <= 0.05 * exact, (
        f"HLL(lgK=14) union estimate {est} vs exact {exact}: "
        f"{abs(est - exact) / exact:.2%} error exceeds the 5% envelope "
        f"q89's union_within_5pct boolean pins"
    )
    per = (
        events.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.expr("theta_sketch_agg(user_id)").alias("sk"))
    )
    th = per.agg(
        F.expr("theta_sketch_estimate(theta_intersection_agg(sk))").alias("i"),
        F.expr("theta_sketch_estimate(theta_union_agg(sk))").alias("u"),
    ).first()
    clicks = events.where(F.col("event_type") == "click").select("user_id").distinct()
    purch = events.where(F.col("event_type") == "purchase").select("user_id").distinct()
    exact_i = clicks.join(purch, "user_id").count()
    exact_u = clicks.unionByName(purch).distinct().count()
    for name, got, want in [("inter", th.i, exact_i), ("union", th.u, exact_u)]:
        tol = max(0.05 * want, 2.0)
        assert abs(got - want) <= tol, (
            f"theta {name} estimate {got} vs exact {want} exceeds "
            f"envelope ±{tol} that q90's {name}_within_5pct boolean pins"
        )


def test_dedup_incremental_attach_payload_twin(spark):
    """dedup_incremental(attach_payload=False) must return exactly the
    (id, dup_count) projection of the payload version: the surviving id
    is the per-fingerprint min over batch ids, so the skipped join-back
    only ever attached payload columns, never changed the row set."""
    from adhesive_spark.operators.dedup import dedup_incremental
    from adhesive_spark.operators.text import fingerprint

    idx_docs = spark.createDataFrame(
        [(i, f"history doc {i}") for i in range(5)],
        "doc_id long, text string",
    )
    index = idx_docs.select(fingerprint(F.col("text")).alias("doc_fp"))
    batch = spark.createDataFrame(
        # 2 already-indexed texts, plus a fresh text duplicated 3x
        [(100, "history doc 0"), (101, "history doc 1")]
        + [(200 + i, "fresh text") for i in range(3)]
        + [(300, "another fresh")],
        "doc_id long, text string",
    )
    full = dedup_incremental(batch, index, "text", "doc_id")
    slim = dedup_incremental(
        batch, index, "text", "doc_id", attach_payload=False
    )
    want = {(200, 3), (300, 1)}  # indexed texts dropped, min-id survives
    assert {(r.doc_id, r.dup_count) for r in full.collect()} == want
    assert {(r.doc_id, r.dup_count) for r in slim.collect()} == want
    assert slim.columns == ["doc_id", "dup_count"]
    # payload version still carries the batch columns
    assert set(full.columns) == {"doc_id", "text", "dup_count"}


def test_bloom_membership_no_false_negatives(spark):
    """Bloom dedup contract: every batch doc whose text IS in the index
    must come back bloom_candidate=true and is_dup=true (a Bloom filter
    has no false negatives); docs not in the index must never be is_dup
    (the exact verify kills bloom false positives)."""
    from adhesive_spark.operators.dedup import bloom_membership_dedup

    idx_docs = spark.createDataFrame(
        [(i, f"indexed document number {i}") for i in range(50)],
        "doc_id long, text string",
    )
    from adhesive_spark.operators.text import fingerprint

    index = idx_docs.select(fingerprint(F.col("text")).alias("doc_fp"))
    batch = spark.createDataFrame(
        # 10 exact copies of indexed docs + 20 fresh ones
        [(100 + i, f"indexed document number {i}") for i in range(10)]
        + [(200 + i, f"fresh document number {i}") for i in range(20)],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.bloom_candidate, r.is_dup)
        for r in bloom_membership_dedup(
            batch, index, "text", "doc_id", n_words=8, k=4
        ).collect()
    }
    assert len(rows) == 30
    for i in range(10):  # true dups: candidate AND confirmed
        assert rows[100 + i] == (True, True), rows[100 + i]
    for i in range(20):  # fresh: never is_dup (candidate may be a bloom FP
        assert rows[200 + i][1] is False  # -- n_words=8 makes FPs likely)


def test_observed_write_one_pass_metrics(spark, tmp_path):
    """monitoring.observed_write: the audit counters must come back from
    the SAME action as the write (Observation accumulators), and match
    hand-computed values."""
    from adhesive_spark.operators.monitoring import (
        attach_metrics,
        corpus_metrics,
        observed_write,
    )

    df = spark.createDataFrame(
        [(1, "a" * 150 + " the of and is"), (2, ""), (3, None), (4, "short")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "obs_out")
    got = observed_write(df, out, metrics=corpus_metrics("text"))
    assert got["n_rows"] == 4
    assert got["n_null_text"] == 2
    assert got["total_chars"] == 164 + 0 + 5
    # written data is intact alongside the metrics
    assert spark.read.parquet(out).count() == 4

    # attach_metrics also rides a plain collect
    observed, obs = attach_metrics(
        df.where(F.col("text").isNotNull()), {"n": F.count(F.lit(1))}
    )
    observed.collect()
    assert dict(obs.get)["n"] == 3


def test_ppjoin_lossless_vs_dfcap(spark):
    """ppjoin_pairs must find pairs whose overlap lives in FREQUENT
    shingles — exactly what ngram_jaccard_pairs' df-cap drops.  Docs A/B
    are near-identical using a shingle shared by every doc; with
    max_shingle_df=1 the capped join loses the pair, the prefix filter
    keeps it."""
    from adhesive_spark.operators.dedup import ngram_jaccard_pairs, ppjoin_pairs

    common = "alpha beta gamma delta epsilon"
    rows = [
        (1, common + " one"),
        (2, common + " two"),
        (3, "totally different words here entirely " + common),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pp = {
        (r.id_a, r.id_b)
        for r in ppjoin_pairs(df, threshold=0.5).collect()
    }
    assert (1, 2) in pp
    capped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, threshold=0.5, max_shingle_df=1
        ).collect()
    }
    assert (1, 2) not in capped  # the documented one-sided undercount


def test_batch_infer_init_once_per_task(spark):
    """inference.batch_infer: the model factory must run once per TASK
    (not per batch/row), outputs align to carried columns, and the
    id_col fan-out spreads a 1-partition input."""
    import pandas as pd

    from adhesive_spark.operators.inference import batch_infer

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(64)], "doc_id long, text string"
    ).coalesce(1)

    init_marker = spark.sparkContext.accumulator(0)

    def factory():
        init_marker.add(1)

        def model(texts: pd.Series) -> pd.DataFrame:
            return pd.DataFrame(
                {"n_chars": texts.str.len().astype("int64")}
            )

        return model

    out = batch_infer(
        df,
        factory,
        "text",
        "doc_id long, text string, n_chars long",
        id_col="doc_id",
    )
    rows = {r.doc_id: r.n_chars for r in out.collect()}
    assert rows[7] == len("doc 7")
    assert len(rows) == 64
    # one init per non-empty task: > 1 proves the fan-out, <= cores
    # proves per-task (64 rows in >=2 Arrow batches per task would
    # double it if init ran per batch — pin the upper bound)
    cores = spark.sparkContext.defaultParallelism
    assert 1 < init_marker.value <= cores
    assert out.rdd.getNumPartitions() == cores


def test_span_dedup_reassembles(spark):
    from adhesive_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(
        [
            (0, "a b c d e f"),  # both spans novel
            (1, "a b c x y z"),  # first span dups doc 0
            (2, "d e f d e f"),  # every span seen before -> empty doc
            (3, "p q r p q r"),  # within-doc dup: second span dropped
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in span_dedup(df, span_tokens=3).collect()
    }
    assert (out[0]["n_spans"], out[0]["n_kept"]) == (2, 2)
    assert out[0]["clean_text"] == "a b c d e f"
    assert out[1]["clean_text"] == "x y z"
    assert (out[2]["n_kept"], out[2]["clean_text"]) == (0, "")
    assert out[3]["clean_text"] == "p q r"
    assert out[3]["n_spans"] == 2


def test_skew_profile_golden(spark):
    from adhesive_spark.operators.skew import skew_profile

    rows = [(1,)] * 5 + [(2,)] * 2 + [(3,)]
    df = spark.createDataFrame(rows, ["k"])
    r = skew_profile(df, "k", target_rows=2).collect()[0]
    assert r["key_name"] == "k"
    assert r["n_rows"] == 8
    assert r["n_keys"] == 3
    assert r["max_key_rows"] == 5
    assert r["median_key_rows"] == 2  # median-low of [1, 2, 5]
    assert r["skew_x100"] == 250
    assert r["suggested_salts"] == 3  # ceil(5 / 2)

    # composite keys: counts group on the tuple, label joins the names
    df2 = spark.createDataFrame(
        [(1, "x")] * 3 + [(1, "y"), (2, "x")], ["k", "s"]
    )
    r2 = skew_profile(df2, ["k", "s"], target_rows=2).collect()[0]
    assert r2["key_name"] == "k,s"
    assert r2["n_keys"] == 3
    assert r2["max_key_rows"] == 3
    assert r2["suggested_salts"] == 2


def test_minhash_persisted_probe_new_batch(spark):
    """Probing a persisted LSH index with a DISJOINT new batch (higher
    ids than everything indexed) must surface new-vs-indexed near-dup
    pairs — the incremental production path — and nothing else."""
    from adhesive_spark.operators.dedup import (
        minhash_lsh_pairs,
        persist_minhash_index,
        probe_minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    idx_docs = spark.createDataFrame(
        [
            (0, base),
            (1, "completely different text about spark query engines"),
            (2, "a third unrelated document mentioning shuffles and joins"),
        ],
        ["doc_id", "text"],
    )
    persist_minhash_index(
        idx_docs, "t_lsh_newbatch", num_perm=64, bands=16, n_buckets=4
    )
    new_docs = spark.createDataFrame(
        [
            (100, base.replace("today", "tomorrow")),  # near-dup of 0
            (101, "fresh unseen content with no indexed counterpart"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.id_a, r.id_b)
        for r in probe_minhash_index(
            new_docs, "t_lsh_newbatch", num_perm=64, bands=16, threshold=0.2
        ).collect()
    }
    assert got == {(0, 100)}
    # and the self-probe contract: probing the index with its own
    # corpus reproduces the one-shot pairs exactly
    persist_minhash_index(
        idx_docs.unionByName(new_docs), "t_lsh_self", num_perm=64,
        bands=16, n_buckets=4,
    )
    self_probe = {
        (r.id_a, r.id_b, r.jaccard)
        for r in probe_minhash_index(
            idx_docs.unionByName(new_docs), "t_lsh_self",
            num_perm=64, bands=16, threshold=0.2,
        ).collect()
    }
    one_shot = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(
            idx_docs.unionByName(new_docs), "text", "doc_id",
            num_perm=64, bands=16, threshold=0.2,
        ).collect()
    }
    assert self_probe == one_shot


# ---------------------------------------------------------------- new ops


def test_apply_cdc_latest_wins_and_deletes(spark):
    from adhesive_spark.operators.incremental import apply_cdc

    log = spark.createDataFrame(
        [
            # key 1: upsert v=10 then v=20 — latest wins
            (1, 100, 1, "upsert", 10),
            (1, 200, 2, "upsert", 20),
            # key 2: upsert then delete — key disappears
            (2, 100, 3, "upsert", 30),
            (2, 200, 4, "delete", 0),
            # key 3: delete then upsert (out-of-order arrival, later
            # seq wins) — key survives
            (3, 200, 5, "upsert", 40),
            (3, 100, 6, "delete", 0),
            # key 4: same ts tie broken by the second seq column
            (4, 100, 7, "upsert", 50),
            (4, 100, 8, "upsert", 60),
        ],
        "k int, ts int, eid int, op string, v int",
    )
    got = {
        r["k"]: r["v"]
        for r in apply_cdc(log, ["k"], ["ts", "eid"], "op").collect()
    }
    assert got == {1: 20, 3: 40, 4: 60}


def test_apply_cdc_with_base_snapshot(spark):
    from adhesive_spark.operators.incremental import apply_cdc

    base = spark.createDataFrame(
        [(1, 100, 0, "upsert", 1), (9, 100, 0, "upsert", 99)],
        "k int, ts int, eid int, op string, v int",
    )
    log = spark.createDataFrame(
        [(1, 200, 1, "upsert", 2), (9, 200, 2, "delete", 0)],
        "k int, ts int, eid int, op string, v int",
    )
    got = {
        r["k"]: r["v"]
        for r in apply_cdc(
            log, ["k"], ["ts", "eid"], "op", base=base
        ).collect()
    }
    # 1 superseded by the log, 9 deleted; base rows with no log entry
    # would pass through untouched (none here beyond 1/9)
    assert got == {1: 2}


def test_expectation_report_goldens(spark):
    from adhesive_spark.operators.quality import expectation_report

    df = spark.createDataFrame(
        [
            (1, "A", 5.0, "ok"),
            (2, "A", -1.0, "ok"),     # in_range violation
            (2, "B", 7.0, "bad!"),    # duplicate id + regex violation
            (None, "Z", 8.0, "ok"),   # null id + bad status
        ],
        "id int, status string, amount double, note string",
    )
    parent = spark.createDataFrame([(1,), (2,)], "pid int")
    rep = {
        r["rule"]: (r["n_violations"], r["passed"])
        for r in expectation_report(
            df,
            [
                ("not_null", "id"),
                ("accepted_values", "status", ["A", "B"]),
                ("in_range", "amount", 0.0, 10.0),
                ("matches", "note", "^[a-z]+$"),
                ("unique", "id"),
                ("fk", "id", "parent", "pid"),
            ],
            parents={"parent": parent},
        ).collect()
    }
    assert rep["not_null(id)"] == (1, False)
    assert rep["accepted_values(status)"] == (1, False)
    assert rep["in_range(amount)"] == (1, False)
    assert rep["matches(note)"] == (1, False)
    assert rep["unique(id)"] == (1, False)  # id=2 twice -> 1 extra row
    assert rep["fk(id->parent.pid)"] == (0, True)  # NULL id exempt


def test_expectation_report_all_green(spark):
    from adhesive_spark.operators.quality import expectation_report

    df = spark.createDataFrame([(1, 5.0), (2, 6.0)], "id int, amount double")
    rep = expectation_report(
        df, [("not_null", "id"), ("unique", "id")]
    ).collect()
    assert all(r["passed"] and r["n_violations"] == 0 for r in rep)


def test_k_anonymity_screen(spark):
    from adhesive_spark.operators.curation import k_anonymity_screen

    df = spark.createDataFrame(
        [("en", 1)] * 5 + [("de", 1)] * 2,
        "lang string, b int",
    )
    got = {
        (r["lang"], r["b"]): (r["class_n"], r["at_risk"])
        for r in k_anonymity_screen(df, ["lang", "b"], k=3).collect()
    }
    assert got == {("en", 1): (5, False), ("de", 1): (2, True)}


def test_fd_violations_goldens(spark):
    from adhesive_spark.operators.quality import fd_violations

    df = spark.createDataFrame(
        [
            ("a", 1), ("a", 1), ("a", 2),   # majority 1, one violating row
            ("b", 3), ("b", 3),             # clean group
            (None, 9),                      # null lhs excluded
        ],
        "l string, r int",
    )
    row = fd_violations(df, "l", "r").collect()[0]
    assert (
        row["n_lhs"],
        row["n_violating_groups"],
        row["n_violating_rows"],
        row["holds"],
    ) == (2, 1, 1, False)
    clean = fd_violations(df.where(F.col("r") != 2), "l", "r").collect()[0]
    assert clean["holds"] and clean["n_violating_rows"] == 0


def test_interval_overlap_join_goldens(spark):
    from adhesive_spark.operators.asof import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0, 100), (2, 200, 300), (3, 500, 2500)],
        "lid int, s long, e long",
    )
    right = spark.createDataFrame(
        [(10, 90, 110),    # overlaps 1 (tail) — touching inside
         (11, 100, 200),   # touches 1 at endpoint AND 2 at endpoint
         (12, 350, 400),   # disjoint from all
         (13, 0, 3000)],   # contains everything
        "rid int, s long, e long",
    )
    pairs = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left,
            right,
            left_start="s",
            left_end="e",
            right_start="s",
            right_end="e",
            bucket_width=100,
        ).collect()
    }
    # closed-interval semantics: endpoint touches count; the span
    # 500-2500 shares 20 buckets with rid=13 but must appear ONCE
    assert pairs == {
        (1, 10), (1, 11), (1, 13),
        (2, 11), (2, 13),
        (3, 13),
    }
    rows = interval_overlap_join(
        left, right, left_start="s", left_end="e",
        right_start="s", right_end="e", bucket_width=100,
    ).count()
    assert rows == 6  # no multi-bucket duplicates


def test_asof_join_null_payload_no_frankenrow(spark):
    """A right row whose ATTACHED column is NULL must still be the
    match (its NULL attaches), not skipped in favor of an older row's
    value — per-column fills would stitch columns from different rows
    (found by review; pandas merge_asof returns NaN here)."""
    from adhesive_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 100)], "k string, t long")
    right = spark.createDataFrame(
        [("k", 10, 5, "old"), ("k", 100, None, "new")],
        "k string, t long, payload int, tag string",
    )
    # backward, tolerance 20: the admissible row is (t=100, payload
    # NULL); the t=10 row is 90 away — out of tolerance
    got = asof_join(
        left, right, on="t", by="k", tolerance=20
    ).collect()[0]
    assert got["payload"] is None and got["tag"] == "new"
    # without tolerance the nearest-behind row still wins as a WHOLE
    # row: payload NULL and tag 'new' together, never (5, 'new')
    got2 = asof_join(left, right, on="t", by="k").collect()[0]
    assert got2["payload"] is None and got2["tag"] == "new"


def test_apply_cdc_null_op_is_not_delete(spark):
    """A NULL op is a malformed upsert, not a tombstone: the key must
    survive (found by review: a bare != dropped it silently)."""
    from adhesive_spark.operators.incremental import apply_cdc

    log = spark.createDataFrame(
        [(1, 1, 1, "upsert", 10), (1, 2, 2, None, 7)],
        "k int, ts int, eid int, op string, v int",
    )
    got = {
        r["k"]: r["v"]
        for r in apply_cdc(log, ["k"], ["ts", "eid"], "op").collect()
    }
    assert got == {1: 7}


def test_asof_join_ignores_null_time_right_rows(spark):
    """A right row with a NULL `on` time is dirty data, not a match:
    it must not fill as a phantom backward match (NULLS-FIRST sort
    hazard found by review; pandas merge_asof requires non-null keys)."""
    from adhesive_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 5)], "k string, t long")
    right = spark.createDataFrame(
        [("k", None, 99, "nulltime"), ("k", 100, 1, "real")],
        "k string, t long, payload int, tag string",
    )
    for direction in ("backward", "forward", "nearest"):
        got = asof_join(
            left, right, on="t", by="k", direction=direction
        ).collect()[0]
        if direction == "backward":
            assert got["payload"] is None and got["tag"] is None
        else:  # forward / nearest both find the real t=100 row
            assert got["payload"] == 1 and got["tag"] == "real"


def test_table_diff_goldens(spark):
    from adhesive_spark.operators.quality import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k int, s string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10),        # unchanged -> omitted
         (2, "B", 20),        # changed: s
         (4, "d", 40),        # changed: s (NULL -> value)
         (5, "e", 50)],       # added; 3 removed
        "k int, s string, v int",
    )
    got = {
        r["k"]: (r["change_type"], sorted(r["changed_cols"]))
        for r in table_diff(old, new, ["k"]).collect()
    }
    assert got == {
        2: ("changed", ["s"]),
        3: ("removed", []),
        4: ("changed", ["s"]),
        5: ("added", []),
    }


def test_table_diff_null_keys_match_null_safely(spark):
    """A NULL-keyed row present unchanged on both sides must be
    OMITTED, not reported as a removed+added pair (null-safe key join;
    found by review)."""
    from adhesive_spark.operators.quality import table_diff

    old = spark.createDataFrame(
        [(1, "a"), (None, "x")], "k int, s string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (None, "x"), (3, "c")], "k int, s string"
    )
    got = {
        r["k"]: r["change_type"]
        for r in table_diff(old, new, ["k"]).collect()
    }
    assert got == {3: "added"}
    # a CHANGED NULL-keyed row is one 'changed' row, not two
    new2 = spark.createDataFrame(
        [(1, "a"), (None, "y")], "k int, s string"
    )
    rows = table_diff(old, new2, ["k"]).collect()
    assert len(rows) == 1 and rows[0]["change_type"] == "changed"
    assert rows[0]["k"] is None and rows[0]["changed_cols"] == ["s"]


def test_resample_wav_roundtrip_through_strict_codec(spark, sf_dir):
    """The decimated payloads must be GENUINE WAV bytes: strict decode
    succeeds, duration is preserved within integer rounding, and the
    sample count is exactly ceil(n/factor) of the original."""
    from pyspark.sql import functions as F

    from adhesive_spark.operators.multimodal import (
        decode_media,
        resample_wav,
        synthesize_real_media,
    )
    from adhesive_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % 3 == 1) & (F.col("doc_id") < 90)
    )
    media = synthesize_real_media(docs)
    orig = {
        r.media_id: r
        for r in decode_media(media, codec="real").collect()
    }
    down = {
        r.media_id: r
        for r in decode_media(resample_wav(media, 2), codec="real").collect()
    }
    assert set(down) == set(orig) and orig, "round-trip lost payloads"
    for mid, d in down.items():
        o = orig[mid]
        # duration preserved within 1 ms (integer div on both sides)
        assert abs(d.duration_ms - o.duration_ms) <= 1, (mid, d, o)
        # payload genuinely shrank: 44-byte header + ceil(n/2) samples
        # of 2 bytes — exact, no weak fallback
        n_samples = (o.n_bytes - 44) // 2
        assert d.n_bytes == 44 + 2 * ((n_samples + 1) // 2), (mid, d, o)


def test_grayscale_ppm_roundtrip_through_strict_codec(spark, sf_dir):
    """Grayscaled payloads must be GENUINE P6 bytes of UNCHANGED
    dimensions/byte count, with all three channel means equal after the
    strict decode; non-PPM payloads are dropped."""
    from pyspark.sql import functions as F

    from adhesive_spark.operators.multimodal import (
        decode_media,
        grayscale_ppm,
        image_channel_stats,
        synthesize_real_media,
    )
    from adhesive_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 90
    )
    media = synthesize_real_media(docs)
    gray = grayscale_ppm(media)
    orig = {
        r.media_id: r
        for r in decode_media(media, codec="real").collect()
        if r.media_type == "image"
    }
    out = {r.media_id: r for r in decode_media(gray, codec="real").collect()}
    assert set(out) == set(orig) and orig, "round-trip lost images"
    for mid, g in out.items():
        o = orig[mid]
        assert (g.width, g.height, g.n_bytes) == (o.width, o.height, o.n_bytes)
    stats = {r.media_id: r for r in image_channel_stats(gray).collect()}
    for mid, s in stats.items():
        assert s.mean_r_milli == s.mean_g_milli == s.mean_b_milli, (mid, s)


def test_pad_wav_roundtrip_through_strict_codec(spark, sf_dir):
    """The padded payloads must be GENUINE WAV bytes: strict decode
    succeeds, the sample count lands exactly on the next 1024-sample
    frame boundary, padding never exceeds one frame, and a payload
    already aligned is re-emitted unchanged in size."""
    from pyspark.sql import functions as F

    from adhesive_spark.operators.multimodal import (
        decode_media,
        pad_wav,
        synthesize_real_media,
    )
    from adhesive_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % 3 == 1) & (F.col("doc_id") < 90)
    )
    media = synthesize_real_media(docs)
    orig = {
        r.media_id: r for r in decode_media(media, codec="real").collect()
    }
    padded = {
        r.media_id: r
        for r in decode_media(pad_wav(media, 1024), codec="real").collect()
    }
    assert set(padded) == set(orig) and orig, "round-trip lost payloads"
    for mid, p in padded.items():
        o = orig[mid]
        n = (o.n_bytes - 44) // 2
        n_pad = (p.n_bytes - 44) // 2
        assert n_pad == -(-n // 1024) * 1024, (mid, n, n_pad)
        assert 0 <= n_pad - n < 1024, (mid, n, n_pad)
        assert p.duration_ms >= o.duration_ms


_STRICT_KERNELS = {
    "image_channel_stats": ("ppm", (), [
        "media_id", "width", "height",
        "mean_r_milli", "mean_g_milli", "mean_b_milli",
    ]),
    "video_luma_stats": ("y4m", (), [
        "media_id", "n_frames", "first_luma_milli", "max_delta_milli",
    ]),
    "wav_head_energy": ("wav", (), ["media_id", "n_samples", "head_mean_abs"]),
    "resample_wav": ("wav", (2,), None),
    "downscale_ppm": ("ppm", (2,), None),
    "grayscale_ppm": ("ppm", (), None),
    "subsample_y4m": ("y4m", (2,), None),
    "pad_wav": ("wav", (1024,), None),
}


@pytest.mark.parametrize("kernel", sorted(_STRICT_KERNELS))
def test_strict_codec_drop_contract(spark, kernel):
    """Every strict-codec kernel drops null payloads, payloads of the
    wrong magic and right-magic payloads that do not parse (truncated),
    and emits the one valid payload; an input where every row is
    dropped gives an empty frame with the kernel's schema, not an
    error."""
    from adhesive_spark.operators import multimodal as mm

    codec, args, columns = _STRICT_KERNELS[kernel]
    payloads = {
        "wav": mm.wav_bytes(800, 8000, seed=1),
        "ppm": mm.ppm_bytes(6, 5, seed=1),
        "y4m": mm.y4m_bytes(4, 4, 3, seed=1),
    }
    good = payloads[codec]
    wrong = [b for c, b in sorted(payloads.items()) if c != codec]
    dropped = [None, b"not a media payload", *wrong, good[: len(good) // 2]]
    rows = [
        (i, "x", bytearray(b) if b is not None else None, None)
        for i, b in enumerate([*dropped, good])
    ]
    fn = getattr(mm, kernel)
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = fn(media, *args)
    assert [r.media_id for r in out.collect()] == [len(dropped)]

    none_left = fn(media.where(F.col("media_id") < len(dropped)), *args)
    assert none_left.collect() == []
    if columns is None:
        assert none_left.schema == mm.MEDIA_SCHEMA
    else:
        assert none_left.columns == columns


def test_minhash_kernel_matches_hof_twin(spark, sf_dir):
    """The Arrow minhash-signature kernel must produce bit-identical
    array<long> signatures to the pure-Catalyst HOF twin
    (tests/_twins.py) — the affine-min is exact int64 math in
    both, so this is full equality over the real corpus plus
    empty/short edge docs."""
    import pandas as pd
    from pyspark.sql import functions as F

    from _twins import minhash_sig_hof
    from adhesive_spark.operators.dedup import minhash_base_and_bands
    from adhesive_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [800001, 800002, 800003],
                "text": ["", "one", "two tokens"],
            }
        )
    )
    both = docs.unionByName(edge)
    hof = minhash_sig_hof(both)
    vec, _ = minhash_base_and_bands(both)
    h = {r.id: tuple(r.sig) for r in hof.select("id", "sig").collect()}
    v = {r.id: tuple(r.sig) for r in vec.select("id", "sig").collect()}
    assert h == v and len(h) == both.count()


def _list_input(rows, value_type, pad, *, sliced):
    """``rows`` as a ``pa.ListArray``. Sliced: a ``pad`` row before and
    after is sliced off, and each null row's offsets still span a copy
    of ``pad``, so ``.values`` holds elements no row of the slice owns."""
    import numpy as np
    import pyarrow as pa

    if not sliced:
        return pa.array(rows, type=pa.list_(value_type))
    cells = [pad, *(pad if r is None else r for r in rows), pad]
    offsets = np.cumsum([0] + [len(c) for c in cells]).astype(np.int32)
    values = pa.array([e for c in cells for e in c], type=value_type)
    mask = pa.array([False, *(r is None for r in rows), False])
    arr = pa.ListArray.from_arrays(offsets, values, mask=mask)
    return arr.slice(1, len(rows))


@pytest.mark.parametrize("sliced", [False, True], ids=["plain", "sliced"])
def test_arrow_kernels_on_edge_lists(spark, sliced):
    """The MinHash, SimHash and Gopher Arrow UDF bodies, called on a
    batch of null, empty, one-element and longer rows, and on the same
    rows as a slice of a wider array: each row equals its reference
    (the HOF twins, the pure-Python SimHash fold)."""
    import pyarrow as pa

    from _twins import _lane_masses, minhash_signature_from_base, simhash_fold
    from adhesive_spark.operators.dedup import (
        _simhash_from_hashes,
        minhash_signature_kernel,
    )
    from adhesive_spark.operators.text import gopher_masses_kernel

    pad = list(range(1, 41))
    base = [None, [], [7], [3, 2**31 - 2, 5, 3], [0]]
    got = minhash_signature_kernel(8).func(
        _list_input(base, pa.int64(), pad, sliced=sliced)
    )
    want = spark.createDataFrame(
        list(enumerate(base)), "i int, base array<long>"
    ).select("i", minhash_signature_from_base(F.col("base"), 8).alias("sig"))
    assert got.to_pylist() == [r.sig for r in want.orderBy("i").collect()]
    assert got.to_pylist()[:2] == [[None] * 8] * 2

    hashes = [None, [], [7], [(1 << 62) | 5, 3], [-1, 0, -1], [1 << 62] * 2 + [0] * 2]
    got = _simhash_from_hashes.func(
        _list_input(hashes, pa.int64(), pad, sliced=sliced)
    )
    assert got.to_pylist() == [simhash_fold(h) for h in hashes]

    toks = [None, [], ["a"], ["a", "b", "a", "b", "a"], ["x"] * 9]
    got = gopher_masses_kernel().func(
        _list_input(toks, pa.string(), ["p"] * 9, sliced=sliced)
    )
    lanes = spark.createDataFrame(
        list(enumerate(toks)), "i int, toks array<string>"
    ).select("i", _lane_masses(F.col("toks")).alias("m"))
    want = [
        [v for n in range(2, 8) for v in (r.m[f"m{n}"].top, r.m[f"m{n}"].dup)]
        for r in lanes.orderBy("i").collect()
    ]
    assert got.to_pylist() == want
    assert want[0] == [0] * 12


def test_simhash_matches_python_fold(spark):
    """``simhash_signatures`` against the pure-Python bit-vote fold
    (tests/_twins.py) over the same portable token hashes: null text,
    empty text, one token, two tokens (every differing bit tied, so
    clear) and hashes with bit 62 set."""
    from _twins import simhash_fold
    from adhesive_spark.operators.dedup import portable_hash63
    from adhesive_spark.operators.text import normalize_text

    # md5-prefix hashes: "delta", "echo", "golf", "hotel" and "" have
    # bit 62 set, "alpha" and "beta" do not
    texts = [None, "", "delta", "alpha beta", "alpha delta", "delta echo golf hotel"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sims = {r.id: r.simhash for r in simhash_signatures(df).collect()}
    toks = F.split(normalize_text(F.col("text")), " ")
    hashes = {
        r.doc_id: r.h
        for r in df.select(
            "doc_id", F.transform(toks, portable_hash63).alias("h")
        ).collect()
    }
    assert sims == {i: simhash_fold(h) for i, h in hashes.items()}
    assert sims[0] == 0 and hashes[0] is None
    assert sims[2] == hashes[2][0] and sims[2] >> 62 & 1
    a, b = hashes[3]
    assert a != b and sims[3] == a & b
    assert hashes[4][1] >> 62 & 1 and not hashes[4][0] >> 62 & 1
    assert not sims[4] >> 62 & 1
    assert sims[5] >> 62 & 1


def test_apply_cdc_agg_matches_window_twin(spark, sf_dir):
    """apply_cdc's window engine must produce IDENTICAL snapshots to
    the map-combinable max(struct) twin (tests/_twins.py; the measured
    negative result) on the real event log — including null-seq rows
    (struct null ordering == the window's DESC NULLS LAST) and delete
    drops."""
    from pyspark.sql import functions as F

    from _twins import apply_cdc_agg
    from adhesive_spark.operators.incremental import apply_cdc
    from adhesive_spark.sources.registry import load_table

    events = load_table(spark, sf_dir, "events")
    log = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        "value",
    )
    # inject null-seq rows: a copy of a few events with null ts (must
    # lose to any non-null ts in both)
    nulled = log.where(F.col("event_id") % 97 == 0).withColumn(
        "ts", F.lit(None).cast("timestamp")
    )
    log = log.unionByName(nulled)

    def snap(cdc):
        return {
            r["user_id"]: (r["ts"], r["event_id"], r["op"], r["value"])
            for r in cdc(log, ["user_id"], ["ts", "event_id"], "op").collect()
        }

    agg, win = snap(apply_cdc_agg), snap(apply_cdc)
    assert agg == win and len(agg) > 0

def test_media_byte_builders_match_scalar_reference():
    """r12 optimization: wav/ppm/y4m byte builders were vectorized
    (numpy affine-LCG / arange rasters). Output must stay BYTE-IDENTICAL
    to the original per-byte stdlib loops — the synthesized corpus (and
    every closed-form oracle over it) depends on these exact bytes."""
    import io
    import struct
    import wave

    from adhesive_spark.operators.multimodal import (
        ppm_bytes,
        wav_bytes,
        y4m_bytes,
    )

    def wav_ref(n_samples, sample_rate=8000, seed=0):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sample_rate)
            x = (seed * 2654435761 + 1) & 0x7FFFFFFF
            out = bytearray()
            for _ in range(n_samples):
                x = (x * 1103515245 + 12345) & 0x7FFFFFFF
                out += struct.pack("<h", (x & 0xFFFF) - 32768)
            w.writeframes(bytes(out))
        return buf.getvalue()

    def ppm_ref(width, height, seed=0):
        header = f"P6\n{width} {height}\n255\n".encode("ascii")
        return header + bytes(
            (seed + i) % 251 for i in range(3 * width * height)
        )

    def y4m_ref(width, height, n_frames, seed=0):
        head = f"YUV4MPEG2 W{width} H{height} F25:1 C420\n".encode("ascii")
        frame_sz = width * height + 2 * (width // 2) * (height // 2)
        return head + b"".join(
            b"FRAME\n"
            + bytes((seed + f + i) % 251 for i in range(frame_sz))
            for f in range(n_frames)
        )

    for n, rate, seed in [(0, 8000, 0), (1, 8000, 7), (800, 8000, 1),
                          (1304, 4000, 63), (999, 8000, 12345678901)]:
        assert wav_bytes(n, rate, seed) == wav_ref(n, rate, seed)
    for w_, h, seed in [(4, 4, 0), (63, 4, 3), (60, 63, 999),
                        (5, 7, 12345678901)]:
        assert ppm_bytes(w_, h, seed) == ppm_ref(w_, h, seed)
    for w_, h, nf, seed in [(4, 4, 1, 0), (58, 60, 12, 77),
                            (6, 8, 3, 12345678901)]:
        assert y4m_bytes(w_, h, nf, seed) == y4m_ref(w_, h, nf, seed)


def test_word_shingles_multi_matches_per_n(spark):
    """word_shingles_multi(ns) must emit, per width, exactly
    word_shingles(n)'s distinct grams — including the short-doc
    whole-doc fallback and null/empty text corners."""
    from adhesive_spark.operators.dedup import word_shingles, word_shingles_multi

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "one two"),          # shorter than n=3 and n=5: fallback
        (2, "single"),           # shorter than every n
        (3, ""),                 # empty text
        (4, None),               # null text
        (5, "a a a a a a"),      # heavy duplicate grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ns = (2, 3, 5)
    multi = (
        df.select(
            "doc_id",
            F.explode(word_shingles_multi(F.col("text"), ns)).alias("g"),
        )
        .select("doc_id", F.col("g.n").alias("n"), F.col("g.s").alias("s"))
        .collect()
    )
    got = {(r.doc_id, r.n, r.s) for r in multi}
    want = set()
    for n in ns:
        for r in df.select(
            "doc_id", F.explode(word_shingles(F.col("text"), n)).alias("s")
        ).collect():
            want.add((r.doc_id, n, r.s))
    assert got == want
    # per-width multiset equality too: multi must not duplicate grams
    assert len(multi) == len(got)
