"""Training-data-pipeline queries (SURVEY §2.3 north-star operators),
each exposed through the driver contract with a DuckDB oracle — ALL of
them, including every LSH pipeline: MinHash and SimHash use the
portable md5-prefix hashes, sign-LSH embeds Python-generated hyperplane
literals, so DuckDB reproduces signatures, buckets, bit votes,
candidates, and rankings exactly. No rows-only checks remain in this
module.

The oracle SQL mirrors the Spark expressions constant-for-constant;
shared lexicons/coefficients are interpolated from the same Python
generators so the two can't drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from adhesive_spark.operators.asof import asof_join
from adhesive_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from adhesive_spark.operators.multimodal import (
    decode_media,
    frame_sample_plan,
    synthesize_media,
)
from adhesive_spark.operators.similarity import (
    embedding_neardup_pairs,
    knn_bruteforce,
    knn_lsh,
)
from adhesive_spark.operators.text import text_profile
from adhesive_spark.queries.oracle_fragments import (
    _FP,
    _JACCARD,
    _NORM,
    _PUNCT_RATIO,
    _STOP_RATIO,
    _TOKS,
    _UPPER_RATIO,
    _bpe,
    _hex_int,
    _lang_sql,
    _lsh_bucket,
    _minhash_sig,
    _pair_counts,
    _quality_sql,
    _shingle_sets,
)
from adhesive_spark.sources.registry import checkpoint_corpus, load_table

# --- queries -----------------------------------------------------------------

def q30_dedup_exact(spark, sf_dir):
    """Exact dedup via fingerprint groupBy (deterministic survivor =
    min doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup_exact(docs, "text", "doc_id")
    return out.select("doc_id", "dup_count")


def q31_text_profile(spark, sf_dir):
    """Full text-analysis profile, one scan, all built-ins."""
    docs = load_table(spark, sf_dir, "documents")
    return text_profile(docs, "text").select(
        "doc_id",
        "n_tokens",
        "n_tokens_bpe",
        "stop_ratio",
        "p_punct",
        "p_upper",
        "mean_wlen",
        "quality",
        "lang_pred",
        "doc_fp",
    )


def q33_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (the SQL-expressible fuzzy
    baseline that LSH approximates)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)


def q34_embedding_neardup(spark, sf_dir):
    """Exact cosine near-dup pairs WITHIN each label block — the
    shuffle-joined exact mode (equi-join on label, no nested loop; the
    block size bounds the quadratic term at scale). The unblocked
    variant is refused by the operator unless explicitly forced."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    return embedding_neardup_pairs(
        emb, threshold=0.4, id_col="vec_id", block_col="label"
    )


def q35_knn_bruteforce(spark, sf_dir):
    """Exact cosine top-5 neighbors for the first 10 vectors as queries."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 10)
    return knn_bruteforce(corpus, queries, k=5, id_col="vec_id")


def q36_asof_join(spark, sf_dir):
    """As-of join: for each purchase event, the user's most recent
    prior-or-equal click."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = asof_join(
        purchases, clicks, on="ts", by="user_id",
        right_cols=["click_event_id", "click_ts"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "click_event_id",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("click_ts").cast("timestamp"))
        ).alias("wait_us"),
    )


def q37_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup candidates, exact-Jaccard verified — FULLY
    oracle-checked: the base hash is the md5-prefix portable hash and
    the permutation coefficients are Python-generated literals shared
    with the oracle SQL, so DuckDB reproduces signatures, bands,
    candidates, and the verify bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "text", "doc_id", num_perm=64, bands=16, threshold=0.2
    ).orderBy("id_a", "id_b")


def q38_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (Hamming ≤ 3) — fully oracle-checked: the
    portable token hash plus integer (order-independent) bit votes let
    DuckDB reproduce the Arrow-UDF kernel's signatures exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "text", "doc_id", max_hamming=3).orderBy(
        "id_a", "id_b"
    )


def q39_knn_lsh(spark, sf_dir):
    """Sign-LSH approximate top-5 — fully oracle-checked: the random
    hyperplanes are Python-generated literals shared with the oracle
    SQL, so DuckDB reproduces buckets, candidates, and ranking; exact
    recall twin is q35."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 10)
    return knn_lsh(corpus, queries, dim=64, k=5, n_planes=8, id_col="vec_id")


def q40_multimodal_decode(spark, sf_dir):
    """Multimodal plumbing end-to-end: synthesize media rows →
    mapInArrow decode (stub codec, deterministic sha-derived dims)."""
    docs = load_table(spark, sf_dir, "documents")
    return decode_media(synthesize_media(docs))


def q41_frame_sample(spark, sf_dir):
    """Video frame-sampling plan: one row per sampled frame index."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_media(synthesize_media(docs))
    plan = frame_sample_plan(decoded, every_n=10)
    return plan.groupBy("media_id", "n_frames").agg(
        F.count("*").alias("n_sampled")
    )


PIPELINE_QUERIES = {
    "q30_dedup_exact": q30_dedup_exact,
    "q31_text_profile": q31_text_profile,
    "q33_ngram_jaccard": q33_ngram_jaccard,
    "q34_embedding_neardup": q34_embedding_neardup,
    "q35_knn_bruteforce": q35_knn_bruteforce,
    "q36_asof_join": q36_asof_join,
    "q37_minhash_pairs": q37_minhash_pairs,
    "q38_simhash_pairs": q38_simhash_pairs,
    "q39_knn_lsh": q39_knn_lsh,
    "q40_multimodal_decode": q40_multimodal_decode,
    "q41_frame_sample": q41_frame_sample,
}


# DuckDB 1.0's sha256 takes VARCHAR only; the corpus is ASCII so hashing
# the substring directly equals hashing its utf-8 payload bytes.
_SHA = "sha256(substring(text, 1, 256))"
_MTYPE = "(['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1]"


def _minhash_oracle_sql(
    final_select: str = "SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.2",
    ctes: str = _shingle_sets(),
) -> str:
    """Full DuckDB mirror of minhash_lsh_pairs (64 permutations, 16
    bands, seed 42): the ``_minhash_sig`` signatures, same band keys,
    same exact verify — signatures and candidates match bit-for-bit.
    ``ctes`` must define ``g`` (doc_id, grams) and may add CTEs for
    ``final_select``."""
    return f"""
        WITH {ctes},{_minhash_sig(64)},
        bk AS (
          SELECT doc_id, CAST(i // 4 AS INT) AS band_idx,
                 md5(string_agg(CAST(s AS VARCHAR), '_' ORDER BY i)) AS key
          FROM sig GROUP BY doc_id, CAST(i // 4 AS INT)
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bk a JOIN bk b
            ON a.band_idx = b.band_idx AND a.key = b.key
           AND a.doc_id < b.doc_id
        ),
        v AS (
          SELECT id_a, id_b,
                 round(len(list_intersect(sa.grams, sb.grams))
                       / len(list_distinct(sa.grams || sb.grams)), 4)
                   AS jaccard
          FROM cand
          JOIN g sa ON cand.id_a = sa.doc_id
          JOIN g sb ON cand.id_b = sb.doc_id
        )
        {final_select}
    """


PIPELINE_ORACLES = {
    "q30_dedup_exact": f"""
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
        FROM documents
        GROUP BY {_FP}
    """,
    "q31_text_profile": f"""
        WITH t AS (
          SELECT doc_id, text, {_NORM} AS norm, {_TOKS} AS toks
          FROM documents
        ),
        r AS (
          SELECT doc_id, text, norm, toks,
                 {_STOP_RATIO} AS stop_ratio,
                 {_PUNCT_RATIO} AS p_punct,
                 {_UPPER_RATIO} AS p_upper,
                 floor(list_sum(list_transform(toks, t -> length(t)))
                       / greatest(len(toks), 1) * 100) / 100 AS mean_wlen
          FROM t
        )
        SELECT doc_id,
               len(toks) AS n_tokens,
               {_bpe("norm", "toks")} AS n_tokens_bpe,
               stop_ratio, p_punct, p_upper, mean_wlen,
               {_quality_sql("stop_ratio", "p_punct", "p_upper")} AS quality,
               {_lang_sql()} AS lang_pred,
               md5(norm) AS doc_fp
        FROM r
    """,
    "q33_ngram_jaccard": f"""
        WITH {_pair_counts("doc_id < 200")}
        SELECT id_a, id_b, round({_JACCARD}, 4) AS jaccard
        FROM c
        -- filter on the ROUNDED value, mirroring the Spark side
        -- (ngram_jaccard_pairs rounds to 4 places before thresholding)
        WHERE round({_JACCARD}, 4) >= 0.2
    """,
    "q34_embedding_neardup": """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6) AS cos_sim
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]), 6) >= 0.4
    """,
    "q35_knn_bruteforce": """
        SELECT query_id, vec_id, sim, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id,
                 round(list_cosine_similarity(c.embedding::DOUBLE[],
                                              q.embedding::DOUBLE[]), 6) AS sim,
                 ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[],
                                                         q.embedding::DOUBLE[]), 6) DESC,
                            c.vec_id) AS rank
          FROM embeddings q JOIN embeddings c ON c.vec_id >= 10
          WHERE q.vec_id < 10
        ) WHERE rank <= 5
    """,
    "q36_asof_join": """
        SELECT p.event_id, p.user_id,
               epoch_us(p.ts) AS ts_us,
               c.click_event_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS wait_us
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT event_id AS click_event_id, user_id, ts
                        FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "q37_minhash_pairs": _minhash_oracle_sql(),
    "q40_multimodal_decode": f"""
        SELECT doc_id AS media_id,
               {_MTYPE} AS media_type,
               octet_length(encode(substring(text, 1, 256))) AS n_bytes,
               substr({_SHA}, 1, 16) AS content_sha,
               CASE WHEN {_MTYPE} IN ('image', 'video')
                    THEN 64 + {_hex_int(_SHA, 1, 2)} % 192 END AS width,
               CASE WHEN {_MTYPE} IN ('image', 'video')
                    THEN 64 + {_hex_int(_SHA, 3, 2)} % 192 END AS height,
               CASE WHEN {_MTYPE} = 'video'
                    THEN 1 + {_hex_int(_SHA, 5, 2)} % 120 END AS n_frames,
               CASE WHEN {_MTYPE} = 'audio'
                    THEN 1000 + {_hex_int(_SHA, 7, 4)} % 60000
               END AS duration_ms
        FROM documents
    """,
    "q41_frame_sample": f"""
        SELECT doc_id AS media_id,
               1 + {_hex_int(_SHA, 5, 2)} % 120 AS n_frames,
               CAST(floor((1 + {_hex_int(_SHA, 5, 2)} % 120 - 1) / 10) + 1
                    AS BIGINT) AS n_sampled
        FROM documents
        WHERE {_MTYPE} = 'video'
    """,
}


# the bucket keys are _lsh_bucket's: the same hyperplane literals and
# fold order as similarity.lsh_bucket, so buckets match exactly
PIPELINE_ORACLES["q39_knn_lsh"] = f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_lsh_bucket('v', 64, 8)} AS bucket FROM emb),
    c AS (SELECT vec_id, v, bucket FROM b WHERE vec_id >= 10),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b
          WHERE vec_id < 10)
    SELECT query_id, vec_id, sim, rank FROM (
      SELECT q.query_id, c.vec_id,
             round(list_cosine_similarity(c.v, q.qv), 6) AS sim,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY round(list_cosine_similarity(c.v, q.qv), 6) DESC,
                        c.vec_id) AS rank
      FROM c JOIN q ON c.bucket = q.bucket
    ) WHERE rank <= 5
"""


def _simhash_oracle_sql(*, max_hamming: int = 3) -> str:
    """DuckDB mirror of simhash_pairs: the portable 63-bit token hash is
    reconstructed from md5 hex pairs, the bit votes are integer sums
    (order-independent → engine-identical), and candidates come from the
    same 4x16-bit chunk banding. Reproduces the Arrow-UDF bit-vote
    kernel exactly because every step is integer arithmetic."""
    hi = f"({_hex_int('m', 1, 8)} & 2147483647)"
    lo = _hex_int("m", 9, 8)
    return f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        ),
        h AS (
          SELECT doc_id,
                 list_transform(list_transform(toks, s -> md5(s)),
                                m -> {hi} * 4294967296 + {lo}) AS hashes
          FROM t
        ),
        sim AS (
          -- bit k set iff strictly more one-votes than zero-votes
          -- (2*ones - n > 0), bits 0..62 (bit 63 of the 63-bit hash is
          -- always 0 -> never voted in either engine)
          SELECT doc_id,
                 list_sum(list_transform(range(0, 63), k ->
                   CASE WHEN 2 * list_sum(list_transform(hashes,
                                  x -> (x >> k) & 1)) - len(hashes) > 0
                        THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)) AS simhash
          FROM h
        ),
        chunks AS (
          SELECT doc_id, simhash, k AS chunk_idx,
                 (simhash >> (k * 16)) & 65535 AS chunk_val
          FROM sim CROSS JOIN unnest([0, 1, 2, 3]) AS u(k)
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM chunks a JOIN chunks b
            ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
           AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {max_hamming}
    """


PIPELINE_ORACLES["q38_simhash_pairs"] = _simhash_oracle_sql(max_hamming=3)


def q80_embedding_neardup_lsh(spark, sf_dir):
    """GLOBAL cosine near-dup pairs via sign-LSH buckets — the scale
    path q34's label-blocked exact mode doesn't cover (cross-label
    pairs): candidates only within hyperplane-sign buckets, one
    equi-join on the bucket key. Fully oracle-checked because the
    hyperplanes are shared Python literals (q39 pattern)."""
    from adhesive_spark.operators.similarity import embedding_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    return embedding_neardup_pairs(
        emb, threshold=0.4, id_col="vec_id", use_lsh=True, dim=64, n_planes=8
    )


PIPELINE_QUERIES["q80_embedding_neardup_lsh"] = q80_embedding_neardup_lsh


PIPELINE_ORACLES["q80_embedding_neardup_lsh"] = f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_lsh_bucket('v', 64, 8)} AS bucket FROM emb)
    SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b2.v), 6) AS cos_sim
    FROM b a JOIN b b2
      ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    WHERE round(list_cosine_similarity(a.v, b2.v), 6) >= 0.4
"""


def q81_audio_chunks(spark, sf_dir):
    """Audio chunking plan: 5-second segments per audio clip with
    [start, end) bounds — the windowing step before a speech encoder;
    sequence+explode built-ins, the audio twin of q41."""
    from adhesive_spark.operators.multimodal import audio_chunk_plan

    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_media(synthesize_media(docs))
    return audio_chunk_plan(decoded, chunk_ms=5000)


PIPELINE_QUERIES["q81_audio_chunks"] = q81_audio_chunks

PIPELINE_ORACLES["q81_audio_chunks"] = f"""
    WITH a AS (
      SELECT doc_id AS media_id,
             1000 + {_hex_int(_SHA, 7, 4)} % 60000 AS duration_ms
      FROM documents
      WHERE {_MTYPE} = 'audio'
    )
    SELECT media_id, duration_ms,
           CAST(s AS INT) AS chunk_start_ms,
           CAST(least(s + 5000, duration_ms) AS INT) AS chunk_end_ms
    FROM a CROSS JOIN unnest(range(0, duration_ms, 5000)) AS t(s)
"""


def q103_bloom_incremental_dedup(spark, sf_dir):
    """Bloom-accelerated incremental dedup: the fingerprint index
    (doc_id < 250, the ingested history) is summarized into a ≤256-word
    broadcastable Bloom filter; every batch doc (doc_id >= 250) reports
    its bloom verdict and the exact-verify outcome. The scale point vs
    q86: the membership summary is O(n_words) regardless of index size,
    so the definitely-new majority never shuffles — and the per-row
    output witnesses the no-false-negative contract (is_dup ⇒
    bloom_candidate)."""
    from adhesive_spark.operators.dedup import bloom_membership_dedup
    from adhesive_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    index = docs.where(F.col("doc_id") < 250).select(
        fingerprint(F.col("text")).alias("doc_fp")
    )
    batch = docs.where(F.col("doc_id") >= 250)
    return bloom_membership_dedup(
        batch, index, "text", "doc_id", n_words=256, k=4
    )


PIPELINE_QUERIES["q103_bloom_incremental_dedup"] = q103_bloom_incremental_dedup

# Same md5-carving as the Spark side: one md5 `m` of the fingerprint
# yields four 32-bit probe positions; 32-bit words in BIGINTs keep every
# bit op inside positive signed range in both engines.
_BLOOM_BITS = 256 * 32
_BLOOM_POS = ", ".join(
    f"{_hex_int('m', 8 * i + 1, 8)} % {_BLOOM_BITS}" for i in range(4)
)

PIPELINE_ORACLES["q103_bloom_incremental_dedup"] = f"""
    WITH f AS (
      SELECT doc_id,
             {_FP} AS doc_fp
      FROM documents
    ),
    idx AS (SELECT DISTINCT doc_fp FROM f WHERE doc_id < 250),
    ipos AS (
      SELECT unnest([{_BLOOM_POS}]) AS pos
      FROM (SELECT md5(doc_fp) AS m FROM idx)
    ),
    words AS (
      SELECT pos // 32 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
      FROM ipos GROUP BY 1
    ),
    batch AS (SELECT doc_id, doc_fp FROM f WHERE doc_id >= 250),
    bpos AS (
      SELECT doc_id, doc_fp,
             unnest([{_BLOOM_POS}]) AS pos
      FROM (SELECT doc_id, doc_fp, md5(doc_fp) AS m FROM batch)
    ),
    hits AS (
      SELECT b.doc_id, b.doc_fp,
             CASE WHEN w.bits IS NOT NULL
                   AND (w.bits & (CAST(1 AS BIGINT) << CAST(b.pos % 32 AS INT))) != 0
                  THEN 1 ELSE 0 END AS hit
      FROM bpos b LEFT JOIN words w ON b.pos // 32 = w.word_idx
    ),
    cand AS (
      SELECT doc_id, doc_fp, SUM(hit) = 4 AS bloom_candidate
      FROM hits GROUP BY doc_id, doc_fp
    )
    SELECT c.doc_id, c.bloom_candidate,
           (c.bloom_candidate AND i.doc_fp IS NOT NULL) AS is_dup
    FROM cand c LEFT JOIN idx i ON c.doc_fp = i.doc_fp
"""


def q111_fuzzy_name_join(spark, sf_dir):
    """BLOCKED edit-distance self-join — the entity-resolution / fuzzy
    dedup primitive: candidate pairs come from a cheap equi-join on a
    BLOCKING KEY (here the shared noun of the two-word part name;
    in production a phonetic key, length band, or q-gram signature), and the expensive Levenshtein verify runs ONLY inside
    blocks.  All-pairs edit distance is O(n²·L²) and never shippable;
    blocking makes the shuffle an equi-join on the block key with
    per-block quadratic cost bounded by the block size (standard
    blocking recall tradeoff: cross-block matches are missed by
    design).

    JVM-side end to end: split/levenshtein are Catalyst built-ins, so
    the verify stays inside whole-stage codegen."""
    part = load_table(spark, sf_dir, "part")
    names = (
        part.select(F.split(F.col("p_name"), " ").alias("w"))
        .select(
            F.col("w").getItem(1).alias("block"),
            F.col("w").getItem(0).alias("word"),
        )
        .distinct()
    )
    a = names.alias("a")
    b = names.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.word") < F.col("b.word")),
    )
    return pairs.select(
        F.col("a.block").alias("block"),
        F.col("a.word").alias("word_a"),
        F.col("b.word").alias("word_b"),
        F.levenshtein(F.col("a.word"), F.col("b.word")).alias("dist"),
    ).where(F.col("dist") <= 2)


PIPELINE_QUERIES["q111_fuzzy_name_join"] = q111_fuzzy_name_join

PIPELINE_ORACLES["q111_fuzzy_name_join"] = """
    WITH names AS (
      SELECT DISTINCT
             split_part(p_name, ' ', 2) AS block,
             split_part(p_name, ' ', 1) AS word
      FROM part
    )
    SELECT a.block, a.word AS word_a, b.word AS word_b,
           CAST(levenshtein(a.word, b.word) AS INT) AS dist
    FROM names a JOIN names b
      ON a.block = b.block AND a.word < b.word
    WHERE levenshtein(a.word, b.word) <= 2
"""


def q116_ppjoin_pairs(spark, sf_dir):
    """PPJoin prefix-filtered EXACT similarity join (dedup.ppjoin_pairs)
    — the oracle is the plain all-pairs Jaccard WITHOUT any filtering,
    so a green hash is a machine-checked proof of the prefix filter's
    no-false-negative guarantee (LSH variants like q37 can only be
    checked against their own banding; this one is checked against
    ground truth)."""
    from adhesive_spark.operators.dedup import ppjoin_pairs

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 600)
    return ppjoin_pairs(docs, "text", "doc_id", n=3, threshold=0.3)


PIPELINE_QUERIES["q116_ppjoin_pairs"] = q116_ppjoin_pairs

# ground truth: unfiltered exact all-pairs Jaccard — deliberately NOT a
# mirror of the prefix filter (see q116 docstring)
PIPELINE_ORACLES["q116_ppjoin_pairs"] = f"""
    WITH {_pair_counts("doc_id < 600", rare=False)}
    SELECT id_a, id_b, round({_JACCARD}, 4) AS jaccard
    FROM c
    WHERE {_JACCARD} >= 0.3
"""


def q127_cluster_blocked_neardup(spark, sf_dir):
    """SEMANTIC blocking for exact near-dup pairs: assign every vector
    to its IVF centroid (build_ivf_index — one broadcast + argmax
    aggregate) and run the exact cosine join WITHIN clusters
    (embedding_neardup_pairs block mode).  Complements q34 (blocks on a
    GIVEN label) and q80 (probabilistic LSH buckets): here the blocks
    are LEARNED from the data, which is the blocking a production
    near-dup pass uses when no label exists — similar vectors land in
    the same inverted list, so the quadratic term is bounded by cluster
    size while cross-cluster misses are the (documented) recall
    tradeoff of any blocked exact join."""
    from adhesive_spark.operators.similarity import (
        build_ivf_index,
        embedding_neardup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    _, assigned = build_ivf_index(emb, n_lists=8)
    return embedding_neardup_pairs(
        assigned, threshold=0.4, id_col="vec_id", block_col="centroid_id"
    )


PIPELINE_QUERIES["q127_cluster_blocked_neardup"] = q127_cluster_blocked_neardup

PIPELINE_ORACLES["q127_cluster_blocked_neardup"] = """
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8),
    assigned AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                          c.cid) AS r
        FROM emb e CROSS JOIN cents c
      ) WHERE r = 1
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM assigned a JOIN assigned b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
"""


def q143_media_batch_plan(spark, sf_dir):
    """GPU batch planning for decoded media: image/video items are laid
    into fixed pixel-budget batches per media_type (cost = width ×
    height × frames; batch = floor(running-start / budget), exactly
    pack_sequences' packing rule with pixels as the token currency) —
    the decode-stage twin of q136's text-length bucketing: the batch
    shape drives accelerator utilization, so the plan is computed on
    the cluster BEFORE any payload moves.

    Scale shape: synthesize → Arrow decode (stub codec) → one window
    shuffle keyed on media_type + the per-batch aggregate; no payload
    bytes enter the shuffle (only ids and integer costs)."""
    from adhesive_spark.operators.multimodal import (
        decode_media,
        synthesize_media,
    )
    from adhesive_spark.operators.text import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_media(synthesize_media(docs)).where(
        F.col("media_type").isin("image", "video")
    )
    cost = decoded.select(
        "media_id",
        "media_type",
        (
            F.col("width").cast("long")
            * F.col("height").cast("long")
            * F.coalesce(F.col("n_frames"), F.lit(1)).cast("long")
        ).alias("px"),
    )
    packed = pack_sequences(
        cost,
        "media_type",
        ["media_id"],
        seq_tokens=10_000_000,
        token_col="px",
    )
    return packed.groupBy("media_type", "seq_idx").agg(
        F.count("*").alias("n_items"),
        F.sum("px").alias("total_px"),
        F.max("px").alias("max_item_px"),
    )


PIPELINE_QUERIES["q143_media_batch_plan"] = q143_media_batch_plan

PIPELINE_ORACLES["q143_media_batch_plan"] = f"""
    WITH d AS (
      SELECT doc_id AS media_id, {_MTYPE} AS media_type,
             64 + {_hex_int(_SHA, 1, 2)} % 192 AS width,
             64 + {_hex_int(_SHA, 3, 2)} % 192 AS height,
             CASE WHEN {_MTYPE} = 'video'
                  THEN 1 + {_hex_int(_SHA, 5, 2)} % 120 END AS n_frames
      FROM documents
      WHERE {_MTYPE} IN ('image', 'video')
    ),
    c AS (
      SELECT media_id, media_type,
             CAST(width AS BIGINT) * CAST(height AS BIGINT)
               * CAST(COALESCE(n_frames, 1) AS BIGINT) AS px
      FROM d
    ),
    r AS (
      SELECT media_type, px,
             CAST((SUM(px) OVER (PARTITION BY media_type ORDER BY media_id
                                 ROWS UNBOUNDED PRECEDING) - px)
                  // 10000000 AS INT) AS seq_idx
      FROM c
    )
    SELECT media_type, seq_idx, COUNT(*) AS n_items,
           CAST(SUM(px) AS BIGINT) AS total_px,
           MAX(px) AS max_item_px
    FROM r GROUP BY media_type, seq_idx
"""


def q151_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each query
    vector, the top-3 most-similar corpus vectors with a DIFFERENT
    label — the "close but wrong" examples a metric-learning run pairs
    against its positives.  Same bounded broadcast scoring scan as q35
    (queries tiny, corpus streams once; the label-mismatch predicate
    rides the join, so same-label candidates never materialize) with a
    per-query rank window on the scored rows only."""
    from pyspark.sql import Window

    from adhesive_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("__qvec"),
    )
    corpus = emb.where(F.col("vec_id") >= 10)
    scored = corpus.join(
        F.broadcast(queries), F.col("label") != F.col("query_label")
    ).select(
        "query_id",
        "query_label",
        "vec_id",
        F.col("label").alias("neg_label"),
        F.round(cosine(F.col("embedding"), F.col("__qvec")), 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), "vec_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "query_label", "vec_id", "neg_label", "sim", "rank")
    )


PIPELINE_QUERIES["q151_hard_negatives"] = q151_hard_negatives

PIPELINE_ORACLES["q151_hard_negatives"] = """
    SELECT query_id, query_label, vec_id, neg_label, sim, rank FROM (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             c.vec_id, c.label AS neg_label,
             round(list_cosine_similarity(c.embedding::DOUBLE[],
                                          q.embedding::DOUBLE[]), 6) AS sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[],
                                                     q.embedding::DOUBLE[]), 6) DESC,
                        c.vec_id) AS rank
      FROM embeddings q
      JOIN embeddings c ON c.vec_id >= 10 AND c.label <> q.label
      WHERE q.vec_id < 10
    ) WHERE rank <= 3
"""


def q154_minhash_persisted_probe(spark, sf_dir):
    """Persisted LSH index build + self-probe
    (operators/dedup.persist_minhash_index): the signature pass is paid
    once into a band table bucketed by band_hash (+ a shingle side
    table for the verify), and probing the indexed corpus with itself
    must reproduce q37's one-shot pairs exactly — so the oracle IS
    q37's.  In production the probe side is each day's new batch: its
    cost scales with the batch, never the corpus."""
    from adhesive_spark.operators.dedup import (
        persist_minhash_index,
        probe_minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    persist_minhash_index(
        docs, "q154_lsh_idx", num_perm=64, bands=16, n_buckets=16
    )
    return probe_minhash_index(
        docs, "q154_lsh_idx", num_perm=64, bands=16, threshold=0.2
    ).orderBy("id_a", "id_b")


PIPELINE_QUERIES["q154_minhash_persisted_probe"] = q154_minhash_persisted_probe

PIPELINE_ORACLES["q154_minhash_persisted_probe"] = PIPELINE_ORACLES[
    "q37_minhash_pairs"
]


def q155_media_dedup(spark, sf_dir):
    """Multimodal exact dedup: media payloads deduped by decoded
    content hash — the byte-identical-asset collapse every multimodal
    crawl runs before any expensive perceptual pass (the same
    fingerprint-groupBy shape as q30, but the key comes out of the
    Arrow decode stage and the survivor rule is min media_id).  Per
    media_type: total items, distinct payloads, duplicate count, and
    the survivor-id checksum (sum of kept ids — order-free audit)."""
    from adhesive_spark.operators.multimodal import (
        decode_media,
        synthesize_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_media(synthesize_media(docs))
    per_sha = decoded.groupBy("media_type", "content_sha").agg(
        F.count("*").alias("n_copies"),
        F.min("media_id").alias("survivor_id"),
    )
    return per_sha.groupBy("media_type").agg(
        F.sum("n_copies").alias("n_items"),
        F.count("*").alias("n_distinct"),
        (F.sum("n_copies") - F.count("*")).alias("n_duplicates"),
        F.sum("survivor_id").alias("survivor_id_sum"),
    )


PIPELINE_QUERIES["q155_media_dedup"] = q155_media_dedup

PIPELINE_ORACLES["q155_media_dedup"] = f"""
    WITH d AS (
      SELECT doc_id AS media_id, {_MTYPE} AS media_type,
             substr({_SHA}, 1, 16) AS content_sha
      FROM documents
    ),
    per_sha AS (
      SELECT media_type, content_sha, COUNT(*) AS n_copies,
             MIN(media_id) AS survivor_id
      FROM d GROUP BY media_type, content_sha
    )
    SELECT media_type,
           CAST(SUM(n_copies) AS BIGINT) AS n_items,
           COUNT(*) AS n_distinct,
           CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_duplicates,
           CAST(SUM(survivor_id) AS BIGINT) AS survivor_id_sum
    FROM per_sha GROUP BY media_type
"""


def q157_semantic_drift(spark, sf_dir):
    """Semantic drift monitor — the embedding-space twin of q150's
    lexical drift: per label, the cosine between the centroids of two
    interleaved snapshot halves (vec_id parity).  A healthy stable
    class scores ~1.0; an embedding-model change or upstream content
    shift drops it.  Order-independence trick: every component is
    quantized to integer micros BEFORE the per-half sum (exact BIGINT
    sums, any partitioning), and cosine is scale-invariant so the
    SUM vectors stand in for the means with no division; the final
    cosine is one left-fold over 64 exact-integer-valued doubles —
    bit-identical in any engine.

    Scale shape: one posexplode → (label, half, pos) SUM (map-side
    combined, 64·labels·2 output rows) → per-label assembly; no row
    ever carries more than one component through the shuffle."""
    from adhesive_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("even"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000000, 0).cast(
                    "long"
                ),
            )
        ).alias("pos", "val"),
    )
    sums = comp.groupBy("label", "even", "pos").agg(
        F.sum("val").alias("s")
    )
    # labels x 2 rows; materialized once so the even/odd split does not
    # re-run the posexplode + double aggregation per side
    vecs = sums.groupBy("label", "even").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda t: t.s.cast("double"),
        ).alias("vec")
    ).localCheckpoint(eager=True)
    e = vecs.where(F.col("even")).select("label", F.col("vec").alias("ve"))
    o = vecs.where(~F.col("even")).select("label", F.col("vec").alias("vo"))
    counts = emb.groupBy("label").agg(
        F.count_if(F.col("vec_id") % 2 == 0).alias("n_even"),
        F.count_if(F.col("vec_id") % 2 == 1).alias("n_odd"),
    )
    return (
        e.join(o, "label")
        .join(counts, "label")
        .select(
            "label",
            "n_even",
            "n_odd",
            F.round(cosine(F.col("ve"), F.col("vo")), 6).alias(
                "centroid_cos"
            ),
        )
    )


PIPELINE_QUERIES["q157_semantic_drift"] = q157_semantic_drift

_DRIFT_DOT = (
    "list_reduce(list_transform(range(1, 65), "
    "j -> ve[j] * vo[j]), (x, y) -> x + y)"
)

PIPELINE_ORACLES["q157_semantic_drift"] = f"""
    WITH comp AS (
      SELECT label, vec_id % 2 = 0 AS even, i AS pos,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
                  AS BIGINT) AS val
      FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i)
    ),
    sums AS (
      SELECT label, even, pos, CAST(SUM(val) AS BIGINT) AS s
      FROM comp GROUP BY label, even, pos
    ),
    vecs AS (
      SELECT label, even,
             list_transform(
               list_sort(list(ROW(pos, s))),
               t -> CAST(t[2] AS DOUBLE)
             ) AS vec
      FROM sums GROUP BY label, even
    ),
    pairs AS (
      SELECT e.label, e.vec AS ve, o.vec AS vo
      FROM (SELECT label, vec FROM vecs WHERE even) e
      JOIN (SELECT label, vec FROM vecs WHERE NOT even) o USING (label)
    ),
    counts AS (
      SELECT label,
             COUNT(*) FILTER (WHERE vec_id % 2 = 0) AS n_even,
             COUNT(*) FILTER (WHERE vec_id % 2 = 1) AS n_odd
      FROM embeddings GROUP BY label
    )
    SELECT p.label, c.n_even, c.n_odd,
           round({_DRIFT_DOT}
             / (sqrt(list_reduce(list_transform(range(1, 65),
                       j -> ve[j] * ve[j]), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, 65),
                         j -> vo[j] * vo[j]), (x, y) -> x + y))), 6)
             AS centroid_cos
    FROM pairs p JOIN counts c USING (label)
"""


def q158_embedding_qa(spark, sf_dir):
    """Embedding-table ingestion QA: per label, the dead/degenerate
    vector counts that silently poison cosine math downstream —
    all-zero vectors, abnormally short and abnormally long norms —
    computed on EXACT integers (components micro-quantized, norm² as a
    BIGINT sum; thresholds compare integer to integer, so the screen
    is engine- and partitioning-exact).  One projection + one keyed
    aggregate; nothing wide shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 1000000, 0).cast("long"),
    )
    norm2 = F.aggregate(
        F.transform(qv, lambda v: v * v),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = emb.select(
        "label",
        norm2.alias("n2"),
    )
    # thresholds in micro² units: norm < 0.5 → n2 < 0.25e12; norm > 2.0
    # → n2 > 4e12 (the synthetic vectors are ~unit-norm)
    return scored.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.count_if(F.col("n2") == 0).alias("n_zero"),
        F.count_if(
            (F.col("n2") > 0) & (F.col("n2") < 250_000_000_000)
        ).alias("n_short"),
        F.count_if(F.col("n2") > 4_000_000_000_000).alias("n_long"),
        F.min("n2").alias("min_norm2_u"),
        F.max("n2").alias("max_norm2_u"),
    )


PIPELINE_QUERIES["q158_embedding_qa"] = q158_embedding_qa

PIPELINE_ORACLES["q158_embedding_qa"] = """
    WITH s AS (
      SELECT label,
             list_reduce(
               list_transform(range(1, 65),
                 j -> CAST(ROUND(CAST(embedding[j] AS DOUBLE) * 1000000, 0)
                           AS BIGINT)
                      * CAST(ROUND(CAST(embedding[j] AS DOUBLE) * 1000000, 0)
                             AS BIGINT)),
               (x, y) -> x + y) AS n2
      FROM embeddings
    )
    SELECT label, COUNT(*) AS n_vecs,
           COUNT(*) FILTER (WHERE n2 = 0) AS n_zero,
           COUNT(*) FILTER (WHERE n2 > 0 AND n2 < 250000000000)
             AS n_short,
           COUNT(*) FILTER (WHERE n2 > 4000000000000) AS n_long,
           MIN(n2) AS min_norm2_u,
           MAX(n2) AS max_norm2_u
    FROM s GROUP BY label
"""


def q163_lsh_banding_eval(spark, sf_dir):
    """LSH banding-quality eval — the tuning measurement for the
    (bands, rows) tradeoff, the text-side twin of q152's ANN recall:
    candidate count from the 16-band self-join, verified-pair count,
    and the EXACT ground truth from the lossless PPJoin prefix filter
    (q116's no-false-negative theorem makes it the fair referee) —
    with integer recall (verified/truth: what banding MISSED) and
    precision (verified/candidates: what the verify join threw away,
    i.e. wasted verify work) in ppm.  One driver-free row."""
    from adhesive_spark.operators.dedup import (
        minhash_base_and_bands,
        minhash_lsh_pairs,
        ppjoin_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    _, band_rows = minhash_base_and_bands(docs, num_perm=64, bands=16)
    # plain self-join: band_rows reads the operator's shared id-keyed
    # signature exchange (kernel once), and the ENSURE-origin band
    # shuffles stay AQE-skew-splittable (see minhash_lsh_pairs, r11)
    l, r = band_rows.alias("l"), band_rows.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
        .agg(F.count("*").alias("n_candidates"))
    )
    ver = minhash_lsh_pairs(
        docs, "text", "doc_id", num_perm=64, bands=16, threshold=0.2
    ).agg(F.count("*").alias("n_verified"))
    truth = ppjoin_pairs(docs, threshold=0.2).agg(
        F.count("*").alias("n_truth")
    )
    return (
        cand.join(ver)
        .join(truth)
        .select(
            "n_candidates",
            "n_truth",
            "n_verified",
            F.expr(
                "(n_verified * 1000000) div greatest(n_truth, 1)"
            ).alias("recall_ppm"),
            F.expr(
                "(n_verified * 1000000) div greatest(n_candidates, 1)"
            ).alias("precision_ppm"),
        )
    )


PIPELINE_QUERIES["q163_lsh_banding_eval"] = q163_lsh_banding_eval

# the truth count is the exact shared-shingle count per pair: 3-gram
# sets are distinct, so |A∪B| = n_a + n_b - n_common, the same integers
# a list intersection/union of the two sets would give
PIPELINE_ORACLES["q163_lsh_banding_eval"] = _minhash_oracle_sql(
    ctes=_pair_counts(rare=False),
    final_select=f"""
        , tj AS (SELECT id_a, id_b FROM c WHERE round({_JACCARD}, 4) >= 0.2)
        SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
               (SELECT COUNT(*) FROM tj) AS n_truth,
               (SELECT COUNT(*) FROM v WHERE jaccard >= 0.2) AS n_verified,
               ((SELECT COUNT(*) FROM v WHERE jaccard >= 0.2) * 1000000)
                 // GREATEST((SELECT COUNT(*) FROM tj), 1) AS recall_ppm,
               ((SELECT COUNT(*) FROM v WHERE jaccard >= 0.2) * 1000000)
                 // GREATEST((SELECT COUNT(*) FROM cand), 1)
                 AS precision_ppm
    """,
)


def q177_embedding_coverage(spark, sf_dir):
    """Cross-modal coverage audit: how much of the document corpus has
    an embedding (join on the shared id space), how many embeddings
    are orphaned (no source doc — stale index entries), and the
    coverage rate per source in ppm — the referential-integrity check
    between a text corpus and its derived vector table that q59 does
    for relational FKs.  Run BEFORE any retrieval eval: a low-coverage
    source silently vanishes from semantic search.  Two broadcast-able
    anti/semi joins + one keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    emb_ids = emb.select(F.col("vec_id").alias("doc_id")).distinct()
    cov = docs.join(
        emb_ids.withColumn("has_emb", F.lit(True)), "doc_id", "left"
    )
    per_source = cov.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("has_emb")).alias("n_embedded"),
        F.expr(
            "(count_if(has_emb) * 1000000) div count(*)"
        ).alias("coverage_ppm"),
    )
    orphans = emb_ids.join(
        docs.select("doc_id"), "doc_id", "left_anti"
    ).agg(F.count("*").alias("n"))
    return per_source.join(F.broadcast(orphans)).select(
        "source",
        "n_docs",
        "n_embedded",
        "coverage_ppm",
        F.col("n").alias("n_orphan_embeddings"),
    )


PIPELINE_QUERIES["q177_embedding_coverage"] = q177_embedding_coverage

PIPELINE_ORACLES["q177_embedding_coverage"] = """
    WITH e AS (SELECT DISTINCT vec_id AS doc_id FROM embeddings),
    cov AS (
      SELECT d.source, d.doc_id, e.doc_id IS NOT NULL AS has_emb
      FROM documents d LEFT JOIN e USING (doc_id)
    ),
    per_source AS (
      SELECT source, COUNT(*) AS n_docs,
             COUNT(*) FILTER (WHERE has_emb) AS n_embedded,
             (COUNT(*) FILTER (WHERE has_emb) * 1000000) // COUNT(*)
               AS coverage_ppm
      FROM cov GROUP BY source
    ),
    orphans AS (
      SELECT COUNT(*) AS n FROM e
      WHERE doc_id NOT IN (SELECT doc_id FROM documents)
    )
    SELECT source, n_docs, n_embedded, coverage_ppm,
           orphans.n AS n_orphan_embeddings
    FROM per_source, orphans
"""


def q184_entity_resolution(spark, sf_dir):
    """END-TO-END entity resolution, composed from the primitives the
    pipeline already ships: blocked fuzzy candidate generation (q111's
    block + Levenshtein<=2 verify) → transitive closure over the match
    graph (operators/graph.connected_components — fuzzy matching is
    not transitive, closure makes it an equivalence) → one canonical
    entity per cluster (min member) with the sorted member list.
    Singleton words with no fuzzy match stay their own entity (left
    join + coalesce), so the output partitions the full vocabulary.

    Scale shape: candidates are an equi-join on the block key, closure
    is alternating large-star/small-star rounds over the (tiny) match
    edges (O(log² n) rounds regardless of chain depth), and the final
    grouping shuffles one row per word — nothing quadratic, nothing
    driver-side."""
    from adhesive_spark.operators.graph import connected_components

    part = load_table(spark, sf_dir, "part")
    names = (
        part.select(F.split(F.col("p_name"), " ").alias("w"))
        .select(
            F.col("w").getItem(1).alias("block"),
            F.col("w").getItem(0).alias("word"),
        )
        .distinct()
    )
    a, b = names.alias("a"), names.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.word") < F.col("b.word")),
        )
        .where(F.levenshtein(F.col("a.word"), F.col("b.word")) <= 2)
        .select(
            F.col("a.word").alias("word_a"), F.col("b.word").alias("word_b")
        )
        .distinct()
    )
    # O(log² n) rounds regardless of chain depth — fuzzy word chains
    # are deep paths; output-equal to the min-label reference by the
    # q184-specific equality pytest (tests/test_graph_stateful.py).
    comp = connected_components(pairs, "word_a", "word_b")
    words = names.select("word").distinct()
    labeled = words.join(
        comp.withColumnRenamed("node", "word"), "word", "left"
    ).select(
        "word", F.coalesce("component", "word").alias("entity_id")
    )
    # members is a comma-joined STRING (sorted before the join): the
    # driver's hash canonicalizer cannot sort list-typed cells, so
    # registered query output must be scalar-typed.
    return labeled.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.array_join(F.array_sort(F.collect_list("word")), ",").alias(
            "members"
        ),
    )


PIPELINE_QUERIES["q184_entity_resolution"] = q184_entity_resolution

PIPELINE_ORACLES["q184_entity_resolution"] = """
    WITH RECURSIVE names AS (
      SELECT DISTINCT
             split_part(p_name, ' ', 2) AS block,
             split_part(p_name, ' ', 1) AS word
      FROM part
    ),
    pairs AS (
      SELECT DISTINCT a.word AS wa, b.word AS wb
      FROM names a JOIN names b
        ON a.block = b.block AND a.word < b.word
      WHERE levenshtein(a.word, b.word) <= 2
    ),
    e AS (
      SELECT wa AS a, wb AS b FROM pairs
      UNION ALL
      SELECT wb AS a, wa AS b FROM pairs
    ),
    reach(node, r) AS (
      SELECT a, a FROM e
      UNION
      SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.b
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    words AS (SELECT DISTINCT word FROM names),
    lab AS (
      SELECT w.word, COALESCE(c.component, w.word) AS entity_id
      FROM words w LEFT JOIN comp c ON w.word = c.node
    )
    SELECT entity_id, COUNT(*) AS n_members,
           COALESCE(array_to_string(list_sort(list(word)), ','), '')
             AS members
    FROM lab GROUP BY 1
"""


def q188_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of two retrieval systems (the public RRF
    formula, Cormack et al.: score = Σ 1/(60+rank)) — the standard
    hybrid-search combiner: a DENSE ranking (exact cosine over the
    embedding column) and a LEXICAL ranking (distinct-token overlap
    with the query document) each produce a top-50 list per query over
    the same candidate pool; a full-outer join on (query, candidate)
    fuses them, integer-scaled (1e6 div (60+rank)) so both engines sum
    identical integers. Top-10 fused per query.

    Scale shape: dense side is the bounded broadcast scoring scan
    (q35); lexical side is an inverted-index style token equi-join —
    both produce (query, cand, rank) slivers, and fusion touches only
    top-k rows. At 100 TB the candidate generation would come from the
    IVF probe (q83) and the posting-list join (q149); the fusion
    arithmetic is unchanged."""
    from adhesive_spark.operators.similarity import knn_bruteforce
    from adhesive_spark.operators.text import tokens
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    docs = load_table(spark, sf_dir, "documents")
    n_queries, lo = 3, 10
    hi = 500  # candidate pool: ids with BOTH an embedding and a text
    dense_q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense_c = emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
    dense = knn_bruteforce(dense_c, dense_q, k=50, id_col="vec_id").select(
        "query_id", F.col("vec_id").alias("cand_id"),
        F.col("rank").alias("rank_dense"),
    )
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    )
    qt = toks.where(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"), "tok"
    )
    ct = toks.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).select(
        F.col("doc_id").alias("cand_id"), "tok"
    )
    overlap = (
        ct.join(F.broadcast(qt), "tok")
        .groupBy("query_id", "cand_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.col("n_common").desc(), F.col("cand_id")
    )
    lexical = (
        overlap.withColumn("rank_lex", F.row_number().over(wl))
        .where(F.col("rank_lex") <= 50)
        .select("query_id", "cand_id", "rank_lex")
    )
    fused = dense.join(lexical, ["query_id", "cand_id"], "full_outer").select(
        "query_id",
        "cand_id",
        (
            F.coalesce(
                F.expr("1000000 div (60 + rank_dense)"), F.lit(0).cast("long")
            )
            + F.coalesce(
                F.expr("1000000 div (60 + rank_lex)"), F.lit(0).cast("long")
            )
        ).alias("rrf_u"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_u").desc(), F.col("cand_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .where(F.col("fused_rank") <= 10)
        .select("query_id", "cand_id", "rrf_u", "fused_rank")
    )


PIPELINE_QUERIES["q188_rrf_fusion"] = q188_rrf_fusion

PIPELINE_ORACLES["q188_rrf_fusion"] = f"""
    WITH dense AS (
      SELECT query_id, cand_id, rnk AS rank_dense FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(
                            c.embedding::DOUBLE[],
                            q.embedding::DOUBLE[]), 6) DESC,
                          c.vec_id) AS rnk
        FROM embeddings q
        JOIN embeddings c ON c.vec_id >= 10 AND c.vec_id < 500
        WHERE q.vec_id < 3
      ) WHERE rnk <= 50
    ),
    tok AS (
      SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok
      FROM documents
    ),
    overlap AS (
      SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
             COUNT(*) AS n_common
      FROM tok c JOIN tok q USING (tok)
      WHERE q.doc_id < 3 AND c.doc_id >= 10 AND c.doc_id < 500
      GROUP BY 1, 2
    ),
    lexical AS (
      SELECT query_id, cand_id, rnk AS rank_lex FROM (
        SELECT query_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY n_common DESC, cand_id) AS rnk
        FROM overlap
      ) WHERE rnk <= 50
    ),
    fused AS (
      SELECT COALESCE(d.query_id, l.query_id) AS query_id,
             COALESCE(d.cand_id, l.cand_id) AS cand_id,
             COALESCE(1000000 // (60 + d.rank_dense), 0)
               + COALESCE(1000000 // (60 + l.rank_lex), 0) AS rrf_u
      FROM dense d FULL OUTER JOIN lexical l
        ON d.query_id = l.query_id AND d.cand_id = l.cand_id
    )
    SELECT query_id, cand_id, CAST(rrf_u AS BIGINT) AS rrf_u,
           CAST(fused_rank AS INT) AS fused_rank
    FROM (
      SELECT query_id, cand_id, rrf_u,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_u DESC, cand_id) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 10
"""


def q206_neardup_evidence(spark, sf_dir):
    """EVIDENCE for near-dup verdicts — the review surface dedup at
    scale needs: for every q33 exact-Jaccard pair, the top-3 shared
    shingles ranked by GLOBAL RARITY (lowest document frequency first —
    a rare shared trigram is distinctive evidence, "one of the" is
    noise). Auditors reviewing a takedown or a dedup false-positive
    read this table, not the raw texts. Shuffle shape: the pair list is
    tiny; shared-shingle recovery is two equi-joins of (id, shingle)
    slivers against it plus one broadcast of the global df counts."""
    from pyspark.sql.window import Window

    from adhesive_spark.operators.dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.2
    ).select("id_a", "id_b")
    # materialize the (doc, shingle) stream once: the global-df
    # aggregate and BOTH pair-join sides each re-ran the tokenize +
    # shingle explode (three kernel evaluations on top of the one
    # inside ngram_jaccard_pairs)
    sh = docs.select(
        F.col("doc_id"),
        F.explode(word_shingles(F.col("text"), 3)).alias("shingle"),
    ).transform(checkpoint_corpus)
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("global_df"))
    shared = (
        pairs.join(sh.withColumnRenamed("doc_id", "id_a"), "id_a")
        .join(
            sh.withColumnsRenamed({"doc_id": "id_b"}),
            ["id_b", "shingle"],
        )
        .join(F.broadcast(dfc), "shingle")
    )
    wr = Window.partitionBy("id_a", "id_b").orderBy("global_df", "shingle")
    return (
        shared.withColumn("evidence_rank", F.row_number().over(wr))
        .where(F.col("evidence_rank") <= 3)
        .select(
            "id_a",
            "id_b",
            "shingle",
            "global_df",
            F.col("evidence_rank").cast("int").alias("evidence_rank"),
        )
    )


PIPELINE_QUERIES["q206_neardup_evidence"] = q206_neardup_evidence

PIPELINE_ORACLES["q206_neardup_evidence"] = f"""
    WITH {_pair_counts("doc_id < 200")},
    pairs AS (SELECT id_a, id_b FROM c WHERE round({_JACCARD}, 4) >= 0.2),
    dfc AS (SELECT shingle, COUNT(*) AS global_df FROM x GROUP BY shingle),
    shared AS (
      SELECT p.id_a, p.id_b, a.shingle, d.global_df
      FROM pairs p
      JOIN x a ON a.doc_id = p.id_a
      JOIN x b ON b.doc_id = p.id_b AND b.shingle = a.shingle
      JOIN dfc d ON d.shingle = a.shingle
    )
    SELECT id_a, id_b, shingle, global_df,
           CAST(evidence_rank AS INT) AS evidence_rank
    FROM (
      SELECT id_a, id_b, shingle, global_df,
             ROW_NUMBER() OVER (PARTITION BY id_a, id_b
                                ORDER BY global_df, shingle)
               AS evidence_rank
      FROM shared
    ) WHERE evidence_rank <= 3
"""


# --- q210-q212: real-codec decode (WAV / PPM / Y4M genuine bytes) ------
# The payloads are VALID byte streams (stdlib-built, see
# operators/multimodal.py builders); decode_media(codec="real") parses
# the actual bytes (RIFF chunk walk / netpbm header / Y4M frame walk).
# Every decoded field has a closed form in doc_id, so the DuckDB oracle
# independently predicts what a correct parser must extract — an
# end-to-end proof the parse reads real structure, not metadata.


def q210_wav_decode_real(spark, sf_dir):
    """Genuine RIFF/WAVE decode: synthesize valid mono PCM16 WAV bytes
    per audio doc, parse fmt+data chunks → exact duration. Strict codec
    (no hash fallback). Reference analog: the multimodal ingest seam."""
    from adhesive_spark.operators.multimodal import synthesize_real_media

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 1
    )
    decoded = decode_media(synthesize_real_media(docs), codec="real")
    return decoded.select(
        "media_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
    )


def q211_ppm_decode_real(spark, sf_dir):
    """Genuine PPM (P6) decode: header-parsed width/height off valid
    image bytes, grouped into an aspect-bucket histogram (the shape-
    profiling step before a vision-encoder resize stage)."""
    from adhesive_spark.operators.multimodal import synthesize_real_media

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    decoded = decode_media(synthesize_real_media(docs), codec="real")
    return decoded.groupBy(
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    ).agg(
        F.count("*").alias("n_images"),
        F.sum(F.col("n_bytes")).alias("total_bytes"),
    )


def q212_y4m_decode_real(spark, sf_dir):
    """Genuine Y4M (YUV4MPEG2 C420) decode: frame-walked n_frames +
    header W/H off valid uncompressed video bytes, with the sample
    count of the frame-sampling plan (every 4th frame) — decode →
    sample, the first two stages of a video-training ingest. The plan
    carries each video's decoded columns, so one decode pass feeds both
    the count and the dimensions."""
    from adhesive_spark.operators.multimodal import synthesize_real_media

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 2
    )
    decoded = decode_media(synthesize_real_media(docs), codec="real")
    plan = frame_sample_plan(decoded, every_n=4)
    dims = ("n_frames", "width", "height", "n_bytes")
    return plan.groupBy("media_id", *dims).agg(
        F.count("*").alias("n_sampled")
    ).select(
        "media_id",
        F.col("n_frames").cast("long").alias("n_frames"),
        "n_sampled",
        *[F.col(c).cast("long").alias(c) for c in dims[1:]],
    )


PIPELINE_QUERIES["q210_wav_decode_real"] = q210_wav_decode_real
PIPELINE_QUERIES["q211_ppm_decode_real"] = q211_ppm_decode_real
PIPELINE_QUERIES["q212_y4m_decode_real"] = q212_y4m_decode_real

# WAV: n_samples = 800 + (id%64)*8 @ 8 kHz mono 16-bit; canonical
# 44-byte header -> n_bytes = 44 + 2*n_samples, duration exact ms.
PIPELINE_ORACLES["q210_wav_decode_real"] = """
    SELECT doc_id AS media_id,
           44 + 2 * (800 + (doc_id % 64) * 8) AS n_bytes,
           ((800 + (doc_id % 64) * 8) * 1000) // 8000 AS duration_ms
    FROM documents WHERE doc_id % 3 = 1
"""

# PPM: w = 4 + id%60, h = 4 + (id//7)%60; header 'P6\n{w} {h}\n255\n'
# -> n_bytes = 9 + len(str(w)) + len(str(h)) + 3*w*h.
PIPELINE_ORACLES["q211_ppm_decode_real"] = """
    WITH dims AS (
      SELECT 4 + doc_id % 60 AS width,
             4 + (doc_id // 7) % 60 AS height
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT width, height, COUNT(*) AS n_images,
           CAST(SUM(9 + length(CAST(width AS VARCHAR))
                 + length(CAST(height AS VARCHAR))
                 + 3 * width * height) AS BIGINT) AS total_bytes
    FROM dims GROUP BY width, height
"""

# Y4M: w = 2*(2+id%29), h = 2*(2+(id//3)%29), f = 1 + id%12; header
# 'YUV4MPEG2 W{w} H{h} F25:1 C420\n' = 25+len(w)+len(h) bytes; each
# frame 'FRAME\n' + 3*w*h//2 raster; sampled every 4th frame.
PIPELINE_ORACLES["q212_y4m_decode_real"] = """
    WITH dims AS (
      SELECT doc_id AS media_id,
             2 * (2 + doc_id % 29) AS width,
             2 * (2 + (doc_id // 3) % 29) AS height,
             1 + doc_id % 12 AS n_frames
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT media_id, n_frames,
           (n_frames - 1) // 4 + 1 AS n_sampled,
           width, height,
           25 + length(CAST(width AS VARCHAR))
              + length(CAST(height AS VARCHAR))
              + n_frames * (6 + (3 * width * height) // 2) AS n_bytes
    FROM dims
"""


def q213_media_corruption_audit(spark, sf_dir):
    """Corrupt-payload rejection audit: every 5th payload is truncated
    by 4 bytes JVM-side (binary substring — no Python touch), then the
    STRICT codec decodes. A truncated WAV overruns its declared data
    chunk, a truncated PPM fails raster-length validation, a truncated
    Y4M walks past the buffer — all three parsers must reject (NULL
    dims), never misparse. The audit counts ok/rejected per type; the
    oracle predicts rejection purely from doc_id, so any parser that
    accepted garbage (or rejected valid bytes) hash-fails."""
    from adhesive_spark.operators.multimodal import (
        decode_media,
        synthesize_real_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_real_media(docs).withColumn(
        "payload",
        F.when(
            F.col("media_id") % 5 == 0,
            F.expr("substring(payload, 1, length(payload) - 4)"),
        ).otherwise(F.col("payload")),
    )
    decoded = decode_media(media, codec="real")
    ok = (
        F.col("width").isNotNull()
        | F.col("n_frames").isNotNull()
        | F.col("duration_ms").isNotNull()
    )
    return decoded.groupBy("media_type").agg(
        F.count("*").alias("n_total"),
        F.sum(ok.cast("long")).alias("n_decoded"),
        F.sum((~ok).cast("long")).alias("n_rejected"),
    )


PIPELINE_QUERIES["q213_media_corruption_audit"] = q213_media_corruption_audit

PIPELINE_ORACLES["q213_media_corruption_audit"] = """
    SELECT (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1]
             AS media_type,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_decoded,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rejected
    FROM documents
    GROUP BY 1
"""


def q214_image_channel_stats(spark, sf_dir):
    """Genuine image featurization: numpy channel means over REAL PPM
    rasters (decode → ndarray → reduce), exact milli-scaled integers.
    The oracle recomputes every pixel analytically (raster byte i is
    (doc_id + i) % 251 by construction), so a featurizer that misreads
    even one raster byte hash-fails."""
    from adhesive_spark.operators.multimodal import (
        image_channel_stats,
        synthesize_real_media,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    return image_channel_stats(synthesize_real_media(docs))


PIPELINE_QUERIES["q214_image_channel_stats"] = q214_image_channel_stats

# pixel j: R byte index 3j, G 3j+1, B 3j+2; byte i = (doc_id + i) % 251
PIPELINE_ORACLES["q214_image_channel_stats"] = """
    WITH dims AS (
      SELECT doc_id,
             4 + doc_id % 60 AS width,
             4 + (doc_id // 7) % 60 AS height
      FROM documents WHERE doc_id % 3 = 0
    ),
    px AS (
      SELECT d.doc_id, d.width, d.height,
             CAST(SUM((d.doc_id + 3 * t.j) % 251) AS BIGINT) AS sr,
             CAST(SUM((d.doc_id + 3 * t.j + 1) % 251) AS BIGINT) AS sg,
             CAST(SUM((d.doc_id + 3 * t.j + 2) % 251) AS BIGINT) AS sb
      FROM dims d, LATERAL (
        SELECT unnest(generate_series(0, d.width * d.height - 1)) AS j
      ) t
      GROUP BY 1, 2, 3
    )
    SELECT doc_id AS media_id, width, height,
           (sr * 1000) // (width * height) AS mean_r_milli,
           (sg * 1000) // (width * height) AS mean_g_milli,
           (sb * 1000) // (width * height) AS mean_b_milli
    FROM px
"""


def q215_video_scene_stats(spark, sf_dir):
    """Genuine temporal video features: per-frame luma means off REAL
    Y4M rasters reduced to scene-change statistics (max inter-frame
    luma delta), one linear mapInArrow pass, zero shuffles. The oracle
    recomputes every frame's luma sum with the CLOSED FORM of the
    modular run sum sum_{i<n}(a+i)%251 — no byte access at all — so
    Spark's parse of the actual raster must agree with pure number
    theory."""
    from adhesive_spark.operators.multimodal import (
        synthesize_real_media,
        video_luma_stats,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 2
    )
    return video_luma_stats(synthesize_real_media(docs))


def q216_wav_head_energy(spark, sf_dir):
    """Genuine audio featurization: mean |amplitude| of the first 256
    PCM16 samples off REAL WAV bytes (the silence/clipping gate before
    a full audio encoder). The oracle REPLAYS the sample-generating LCG
    in a recursive CTE — 256 exact integer steps per clip — so a
    one-sample misread (offset, endianness, sign) hash-fails."""
    from adhesive_spark.operators.multimodal import (
        synthesize_real_media,
        wav_head_energy,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 1
    )
    return wav_head_energy(synthesize_real_media(docs), head_samples=256)


PIPELINE_QUERIES["q215_video_scene_stats"] = q215_video_scene_stats
PIPELINE_QUERIES["q216_wav_head_energy"] = q216_wav_head_energy

# closed form of S(a, n) = sum_{i=0}^{n-1} (a + i) % 251 with a in
# [0, 251): full cycles contribute (n//251)*31375; the partial run of
# r = n%251 terms starting at a wraps at 251.
def _mod_run_sum(a: str, n: str) -> str:
    r = f"({n} % 251)"
    k = f"(251 - {a})"
    return (
        f"(({n} // 251) * 31375"
        f" + CASE WHEN {a} + {r} <= 251"
        f"        THEN {r} * {a} + ({r} * ({r} - 1)) // 2"
        f"        ELSE {k} * {a} + ({k} * ({k} - 1)) // 2"
        f"             + (({r} - {k}) * ({r} - {k} - 1)) // 2"
        f"   END)"
    )


# frame f's luma plane bytes are (doc_id + f + i) % 251 for i < w*h
PIPELINE_ORACLES["q215_video_scene_stats"] = f"""
    WITH dims AS (
      SELECT doc_id AS media_id,
             2 * (2 + doc_id % 29) AS w,
             2 * (2 + (doc_id // 3) % 29) AS h,
             1 + doc_id % 12 AS n_frames
      FROM documents WHERE doc_id % 3 = 2
    ),
    frames AS (
      SELECT d.media_id, d.n_frames, t.f,
             ({_mod_run_sum("((d.media_id + t.f) % 251)", "(d.w * d.h)")}
              * 1000) // (d.w * d.h) AS luma_milli
      FROM dims d, LATERAL (
        SELECT unnest(generate_series(0, d.n_frames - 1)) AS f
      ) t
    ),
    lagged AS (
      SELECT media_id, n_frames, f, luma_milli,
             lag(luma_milli) OVER (PARTITION BY media_id ORDER BY f)
               AS prev_luma
      FROM frames
    )
    SELECT media_id, n_frames,
           CAST(MAX(CASE WHEN f = 0 THEN luma_milli END) AS BIGINT)
             AS first_luma_milli,
           CAST(COALESCE(MAX(ABS(luma_milli - prev_luma)), 0) AS BIGINT)
             AS max_delta_milli
    FROM lagged
    GROUP BY media_id, n_frames
"""

# the WAV sample LCG, replayed exactly: x0 = (id*2654435761 + 1) &
# 0x7FFFFFFF; x_{k+1} = (x_k*1103515245 + 12345) & 0x7FFFFFFF;
# sample_k = (x_k & 0xFFFF) - 32768 (samples use the POST-update x)
PIPELINE_ORACLES["q216_wav_head_energy"] = """
    WITH RECURSIVE lcg AS (
      SELECT doc_id,
             CAST(0 AS BIGINT) AS k,
             (doc_id * 2654435761 + 1) & 2147483647 AS x,
             CAST(0 AS BIGINT) AS acc
      FROM documents WHERE doc_id % 3 = 1
      UNION ALL
      SELECT doc_id, k + 1,
             (x * 1103515245 + 12345) & 2147483647,
             acc + ABS((((x * 1103515245 + 12345) & 2147483647) & 65535)
                       - 32768)
      FROM lcg WHERE k < 256
    )
    SELECT doc_id AS media_id,
           800 + (doc_id % 64) * 8 AS n_samples,
           acc // 256 AS head_mean_abs
    FROM lcg WHERE k = 256
"""


def q273_wav_resample_audit(spark, sf_dir):
    """Audio TRANSFORM audit: decimate every WAV payload's PCM by 2
    (operators/multimodal.resample_wav — re-emits VALID RIFF bytes at
    half the rate) and strict-decode the RESULT. Wall-clock duration
    must be preserved while bytes halve — the rate-normalization stage
    of an audio-training pipeline, proven through the same parser that
    gates ingest (decode(transform(x)) is the contract, not just
    transform(x)). Oracle is the closed-form byte arithmetic: the
    synthesized n_samples (800 + (id%64)*8) is even, so decimation is
    exactly n/2 and the new duration (n/2)*1000 div 4000 equals the
    original n*1000 div 8000.
    """
    from adhesive_spark.operators.multimodal import (
        resample_wav,
        synthesize_real_media,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 1
    )
    down = decode_media(
        resample_wav(synthesize_real_media(docs), factor=2), codec="real"
    )
    return down.select(
        "media_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
    )


PIPELINE_QUERIES["q273_wav_resample_audit"] = q273_wav_resample_audit

# decimated WAV: n' = n/2 samples @ 4 kHz -> n_bytes = 44 + n,
# duration unchanged (same wall-clock audio)
PIPELINE_ORACLES["q273_wav_resample_audit"] = """
    SELECT doc_id AS media_id,
           44 + (800 + (doc_id % 64) * 8) AS n_bytes,
           ((800 + (doc_id % 64) * 8) * 1000) // 8000 AS duration_ms
    FROM documents WHERE doc_id % 3 = 1
"""


def q316_wav_pad_align_audit(spark, sf_dir):
    """Audio TRANSFORM audit #5: zero-pad every WAV payload's PCM up to
    the next 1024-sample frame boundary (operators/multimodal.pad_wav —
    re-emits VALID RIFF bytes) and strict-decode the RESULT — the
    frame-alignment stage before fixed-window feature extraction
    (STFT/fbank front ends consume whole frames; trainers pad, never
    truncate). decode(transform(x)) is the contract: the padded sample
    count must be exactly ceil(n/1024)·1024 and duration stretches by
    the silence tail. Oracle is closed-form byte arithmetic off the
    synthesized n_samples (800 + (id%64)*8 at 8 kHz).

    Scale shape: one linear mapInArrow pass, no shuffle; payload bytes
    never shuffled; growth bounded by one frame per clip."""
    from adhesive_spark.operators.multimodal import (
        pad_wav,
        synthesize_real_media,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 1
    )
    padded = decode_media(
        pad_wav(synthesize_real_media(docs), multiple=1024), codec="real"
    )
    return padded.select(
        "media_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
    )


PIPELINE_QUERIES["q316_wav_pad_align_audit"] = q316_wav_pad_align_audit

# padded WAV: n' = ceil(n/1024)*1024 samples @ 8 kHz ->
# n_bytes = 44 + 2*n', duration = n'*1000 div 8000
PIPELINE_ORACLES["q316_wav_pad_align_audit"] = """
    SELECT doc_id AS media_id,
           44 + 2 * (((800 + (doc_id % 64) * 8) + 1023) // 1024 * 1024)
             AS n_bytes,
           ((((800 + (doc_id % 64) * 8) + 1023) // 1024 * 1024) * 1000)
             // 8000 AS duration_ms
    FROM documents WHERE doc_id % 3 = 1
"""


def q277_ppm_downscale_audit(spark, sf_dir):
    """Image TRANSFORM audit: stride-2 downscale every PPM raster
    (operators/multimodal.downscale_ppm — re-emits VALID P6 bytes) and
    strict-decode the RESULT: dimensions must be exactly
    ceil(orig/2) and bytes shrink ~4x — decode(transform(x)) through
    the same parser that gates ingest, the image twin of the q273
    audio audit. Oracle is closed-form byte arithmetic off the
    synthesized dimensions (w = 4 + id%60, h = 4 + (id//7)%60).
    """
    from adhesive_spark.operators.multimodal import (
        downscale_ppm,
        synthesize_real_media,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    down = decode_media(
        downscale_ppm(synthesize_real_media(docs), factor=2), codec="real"
    )
    return down.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
    )


PIPELINE_QUERIES["q277_ppm_downscale_audit"] = q277_ppm_downscale_audit

# downscaled P6: w' = ceil(w/2), h' = ceil(h/2);
# n_bytes = 9 + len(str(w')) + len(str(h')) + 3*w'*h'
PIPELINE_ORACLES["q277_ppm_downscale_audit"] = """
    WITH dims AS (
      SELECT doc_id AS media_id,
             (4 + doc_id % 60 + 1) // 2 AS w,
             (4 + (doc_id // 7) % 60 + 1) // 2 AS h
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
                + 3 * w * h AS BIGINT) AS n_bytes
    FROM dims
"""


def q278_y4m_subsample_audit(spark, sf_dir):
    """Video TRANSFORM audit: keep every 2nd frame of each Y4M stream
    (operators/multimodal.subsample_y4m — re-emits VALID YUV4MPEG2
    bytes) and strict-decode the RESULT: dimensions unchanged,
    n_frames exactly ceil(orig/2) — decode(transform(x)) through the
    frame-walking parser, completing the audio (q273) / image (q277) /
    video transform triptych. Oracle is closed-form off the
    synthesized parameters (w = 2*(2+id%29), h = 2*(2+(id//3)%29),
    f = 1 + id%12).
    """
    from adhesive_spark.operators.multimodal import (
        subsample_y4m,
        synthesize_real_media,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 2
    )
    down = decode_media(
        subsample_y4m(synthesize_real_media(docs), every_n=2), codec="real"
    )
    return down.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
    )


PIPELINE_QUERIES["q278_y4m_subsample_audit"] = q278_y4m_subsample_audit

# subsampled Y4M: frames' = ceil(f/2); header = 25 + len(w) + len(h)
# bytes ('YUV4MPEG2 W{w} H{h} F25:1 C420\n'); each kept frame =
# 6 ('FRAME\n') + 3*w*h/2 raster bytes
PIPELINE_ORACLES["q278_y4m_subsample_audit"] = """
    WITH dims AS (
      SELECT doc_id AS media_id,
             2 * (2 + doc_id % 29) AS w,
             2 * (2 + (doc_id // 3) % 29) AS h,
             (1 + doc_id % 12 + 1) // 2 AS f
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(f AS BIGINT) AS n_frames,
           CAST(25 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
                + f * (6 + 3 * w * h // 2) AS BIGINT) AS n_bytes
    FROM dims
"""


def q279_media_reduction_pipeline(spark, sf_dir):
    """Media-reduction CAPSTONE: one pipeline pushes every modality
    through its real transform — WAV PCM decimation (q273), PPM
    stride downscale (q277), Y4M frame subsample (q278) — and accounts
    the byte reduction per modality: items, bytes in, bytes out, and
    saved_ppm. This is the storage/egress planning table for a
    multimodal training-data pass (transforms run ONCE, linearly, no
    shuffle; the ledger is one tiny aggregate), with every number
    closed-form checkable because the synthesizer's parameters are
    functions of doc_id.
    """
    from adhesive_spark.operators.multimodal import (
        downscale_ppm,
        resample_wav,
        subsample_y4m,
        synthesize_real_media,
    )

    media = synthesize_real_media(load_table(spark, sf_dir, "documents"))
    media = media.transform(checkpoint_corpus)  # feeds 3 transforms + input ledger
    out = (
        resample_wav(media, factor=2)
        .unionByName(downscale_ppm(media, factor=2))
        .unionByName(subsample_y4m(media, every_n=2))
        .select("media_id", F.col("meta.n_bytes").alias("bytes_out"))
    )
    inp = media.select(
        "media_id", "media_type", F.col("meta.n_bytes").alias("bytes_in")
    )
    return (
        inp.join(out, "media_id")
        .groupBy("media_type")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("bytes_in").cast("long").alias("bytes_in"),
            F.sum("bytes_out").cast("long").alias("bytes_out"),
        )
        .withColumn(
            "saved_ppm",
            F.expr(
                "CAST((bytes_in - bytes_out) * 1000000 div bytes_in"
                " AS BIGINT)"
            ),
        )
        .orderBy("media_type")
    )


PIPELINE_QUERIES["q279_media_reduction_pipeline"] = q279_media_reduction_pipeline

PIPELINE_ORACLES["q279_media_reduction_pipeline"] = """
    WITH led AS (
      SELECT 'audio' AS media_type,
             44 + 2 * (800 + (doc_id % 64) * 8) AS bytes_in,
             44 + (800 + (doc_id % 64) * 8) AS bytes_out
      FROM documents WHERE doc_id % 3 = 1
      UNION ALL
      SELECT 'image',
             9 + length(CAST(4 + doc_id % 60 AS VARCHAR))
               + length(CAST(4 + (doc_id // 7) % 60 AS VARCHAR))
               + 3 * (4 + doc_id % 60) * (4 + (doc_id // 7) % 60),
             9 + length(CAST((4 + doc_id % 60 + 1) // 2 AS VARCHAR))
               + length(CAST((4 + (doc_id // 7) % 60 + 1) // 2 AS VARCHAR))
               + 3 * ((4 + doc_id % 60 + 1) // 2)
                   * ((4 + (doc_id // 7) % 60 + 1) // 2)
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT 'video',
             25 + length(CAST(2 * (2 + doc_id % 29) AS VARCHAR))
               + length(CAST(2 * (2 + (doc_id // 3) % 29) AS VARCHAR))
               + (1 + doc_id % 12)
                 * (6 + 3 * (2 * (2 + doc_id % 29))
                        * (2 * (2 + (doc_id // 3) % 29)) // 2),
             25 + length(CAST(2 * (2 + doc_id % 29) AS VARCHAR))
               + length(CAST(2 * (2 + (doc_id // 3) % 29) AS VARCHAR))
               + ((1 + doc_id % 12 + 1) // 2)
                 * (6 + 3 * (2 * (2 + doc_id % 29))
                        * (2 * (2 + (doc_id // 3) % 29)) // 2)
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT media_type,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(bytes_in) AS BIGINT) AS bytes_in,
           CAST(SUM(bytes_out) AS BIGINT) AS bytes_out,
           CAST((SUM(bytes_in) - SUM(bytes_out)) * 1000000
                // SUM(bytes_in) AS BIGINT) AS saved_ppm
    FROM led GROUP BY media_type ORDER BY media_type
"""
