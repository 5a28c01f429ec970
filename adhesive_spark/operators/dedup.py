"""Deduplication operators for training-data pipelines (SURVEY §2.3).

Five strategies, all shuffle-conscious:

- :func:`dedup_exact` — hash-groupBy on a deterministic fingerprint; one
  shuffle, map-side combine, deterministic survivor choice.
- :func:`minhash_lsh_pairs` / :func:`dedup_minhash` — shingle → minhash
  signature → banded LSH → bucket self-join → exact-Jaccard verify.
  Candidate generation touches only same-band buckets (no O(n²) pair
  space); all signature math is built-in expressions (JVM-side).
- :func:`simhash_signatures` / :func:`simhash_pairs` — 64-bit SimHash
  with chunk-banding for candidate generation and ``bit_count`` Hamming
  verify. Token hashing JVM-side; bit-vote aggregation via a vectorized
  Arrow-batched pandas UDF (64 per-bit array passes in SQL would scan
  the token array 64×; one numpy pass is the scale-sane choice).
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard via explode +
  equi-join on shingle (the fully SQL-expressible fuzzy-dup baseline —
  used as the correctness oracle for the approximate methods).
- :func:`embedding_neardup_pairs` (in similarity.py) — cosine near-dup.

The reference has no dedup operators; this follows the project
north-star (BASELINE.json) using the same Spark-first design rule as the
factory: built-ins first, Arrow-vectorized Python only where built-ins
genuinely can't express the op.
"""

from __future__ import annotations

import random

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import LongType

from adhesive_spark.operators.text import fingerprint, normalize_text
from adhesive_spark.sources.registry import checkpoint_corpus, ensure_parallelism

# Mersenne prime 2^31-1: affine minhash permutations stay in 31-bit
# space so a*h+b (< 2^61) never overflows ANSI-mode BIGINT arithmetic.
_MERSENNE = (1 << 31) - 1


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint. Keeps the lowest id
    per group (deterministic, unlike ``dropDuplicates``).

    Scale shape: single hash shuffle on the 128-bit fingerprint with
    map-side partial ``min``; survivor join is a self-semi-join avoided
    entirely by re-aggregating (no second shuffle of the full corpus).
    """
    fp = fingerprint(F.col(text_col)).alias("doc_fp")
    keep = (
        df.select(F.col(id_col), fp)
        .groupBy("doc_fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
    )
    return df.join(keep, on=id_col, how="inner").drop("doc_fp")


def word_shingles(col, n: int = 3):
    """Distinct word n-gram shingles of the normalized text (built-in
    array ops; empty/short docs yield the whole-doc shingle).

    The token array is BOUND ONCE per row (single-element transform
    scope): referenced directly from the per-gram lambda, the
    split+regex subtree would be re-evaluated for every gram —
    O(len·n_grams) per document (the q54 winnowing failure class)."""

    def _grams(toks):
        k = F.size(toks) - (n - 1)
        return F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
            # concat_ws(" ", toks) == the normalized text (single spaces)
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    grams = F.element_at(
        F.transform(F.array(F.split(normalize_text(col), " ")), _grams), 1
    )
    return F.array_distinct(grams)


def word_shingles_multi(col, ns: tuple[int, ...]):
    """``word_shingles`` for several shingle widths in ONE pass: the
    token array is split once per row and every width's distinct grams
    are emitted as ``struct(n, s)`` in a single array — the grain a
    knob-ladder query explodes once instead of once per rung. Per-width
    elements are exactly ``word_shingles(col, n)``'s (same short-doc
    whole-doc fallback, same array_distinct)."""

    def _all(toks):
        def _grams(n):
            k = F.size(toks) - (n - 1)
            return F.when(
                k >= 1,
                F.transform(
                    F.sequence(F.lit(0), k - 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                ),
            ).otherwise(F.array(F.concat_ws(" ", toks)))

        return F.concat(
            *[
                F.transform(
                    F.array_distinct(_grams(n)),
                    lambda s: F.struct(
                        F.lit(n).cast("long").alias("n"), s.alias("s")
                    ),
                )
                for n in ns
            ]
        )

    return F.element_at(
        F.transform(F.array(F.split(normalize_text(col), " ")), _all), 1
    )


def _perm_coeffs(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, _MERSENNE))
        for _ in range(num_perm)
    ]


def portable_hash32(s):
    """32-bit hash = first 8 hex chars of md5, parsed as an integer.

    Engine-portable by construction (DuckDB reconstructs it from the
    same hex pairs), which is what lets the banded-LSH pipeline be
    oracle-checked end-to-end instead of rows-only; xxhash64 would be
    faster per shingle but exists only in Spark.
    """
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def portable_hash63(s):
    """63-bit hash from the first 16 hex chars of md5: hi 31 bits ·2³² +
    lo 32 bits. Stays below 2⁶³ so it survives signed BIGINT arithmetic
    identically in every engine (bit 63 is always 0 — SimHash votes over
    it are a constant no-vote in both)."""
    hx = F.md5(s)
    hi = (
        F.conv(F.substring(hx, 1, 8), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(0x7FFFFFFF))
    )
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return hi * F.lit(4294967296) + lo


def _coeff_array(num_perm: int, seed: int = 42):
    """The permutation coefficients as ONE literal array<struct<a,b>>
    column, so the whole signature is a single nested higher-order
    expression — NOT num_perm copies of the transform. 64 unrolled
    copies were observed to produce a codegen unit whose first-run
    Janino+JIT compile cost tens of seconds; the HOF form is a loop in
    one tiny compiled class with identical per-row work."""
    return F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _perm_coeffs(num_perm, seed)
        ]
    )


def minhash_signature_from_base(base_col, num_perm: int = 64, seed: int = 42):
    """Array<long> MinHash signature over an already-materialized column
    of base hashes (array<long>).

    ``base_col`` MUST be a plain column reference (cached/projected), not
    a subtree: it is referenced inside the per-coefficient lambda, so an
    inline expression would be re-evaluated num_perm times.
    """
    return F.transform(
        _coeff_array(num_perm, seed),
        lambda c: F.array_min(
            F.transform(
                base_col, lambda h: (h * c["a"] + c["b"]) % _MERSENNE
            )
        ),
    )


def minhash_signature_kernel(num_perm: int = 64, seed: int = 42):
    """Arrow-batched twin of :func:`minhash_signature_from_base`: the
    same affine-permutation minimum over the SAME materialized base
    hashes, computed as one int64 numpy matrix op per document instead
    of num_perm interpreted HOF scans.

    Exactness is structural, not approximate: base hashes are < 2³¹ and
    coefficients a < 2³⁰, so h·a+b < 2⁶² fits int64 with no overflow,
    `%` on non-negatives equals pmod, and min over ints is order-free —
    the signature longs are IDENTICAL to the HOF form's (machine-checked
    bit-equal, tests/test_operators.py). Null/empty shingle sets yield
    the HOF plan's [null]×num_perm. Measured 1.9× on the full 1.5 M-doc
    signature stage (61.1 s → 32.8 s — the shared md5 shingle-hash
    checkpoint is included in both; STRESS.md round 10)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType

    coeffs = np.array(_perm_coeffs(num_perm, seed), dtype=np.int64)
    A = coeffs[:, 0][:, None]
    B = coeffs[:, 1][:, None]

    @pandas_udf(ArrayType(LongType()))
    def _sig(base_s: pd.Series) -> pd.Series:
        none_sig = [None] * num_perm
        out = []
        for base in base_s:
            if base is None or len(base) == 0:
                out.append(none_sig)
                continue
            h = np.asarray(base, dtype=np.int64)[None, :]
            out.append(((h * A + B) % _MERSENNE).min(axis=1).tolist())
        return pd.Series(out)

    return _sig


def minhash_signature(
    col,
    num_perm: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
):
    """Array<long> MinHash signature, entirely in built-in expressions.

    The shingle set is hashed ONCE (portable md5-prefix hash) into a
    named lambda variable (so it is NOT recomputed per permutation);
    each permutation is an affine transform (a*h+b) mod M₃₁ over the
    base hashes."""
    shingles = word_shingles(col, shingle_n)
    base = F.transform(shingles, lambda s: F.pmod(portable_hash32(s), F.lit(_MERSENNE)))
    # Bind base once via a single-element transform scope: the outer
    # lambda variable `bs` is evaluated once per row, then reused by all
    # num_perm inner scans.
    return F.element_at(
        F.transform(
            F.array(base),
            lambda bs: minhash_signature_from_base(bs, num_perm, seed),
        ),
        1,
    )


def minhash_base_and_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Shared signature stage of the LSH pipeline: returns
    ``(base, band_rows)`` where base = (id, shingles, sig) and
    band_rows = (id, band_idx, band_hash) — consumed by the one-shot
    :func:`minhash_lsh_pairs` and by the persisted-index pair
    (:func:`persist_minhash_index` / :func:`probe_minhash_index`).

    The permutation minimums come from :func:`minhash_signature_kernel`
    — the same longs as :func:`minhash_signature`'s HOF scans, 1.9× on
    the signature pass (61.1 s→32.8 s at the 1.5 M-doc rung — the one
    measured number, see :func:`minhash_signature_kernel`).  The md5
    shingle hashing stays JVM-side (it is what keeps the pipeline
    oracle-portable)."""
    rows_per_band = num_perm // bands
    assert rows_per_band * bands == num_perm, "bands must divide num_perm"

    # Shingle hashing is the CPU-dense stage — never leave it at
    # input-split parallelism (single compacted files scan serially).
    df = ensure_parallelism(df, id_col)

    # Materialization boundary BEFORE the permutation pass: without it,
    # CollapseProject inlines the whole shingle+hash subtree into the
    # signature expression and the verify join recomputes shingling.
    # localCheckpoint (eager) instead of cache(): same physical boundary,
    # but the blocks are owned by the RDD and reclaimed by the
    # ContextCleaner when this call's plan is dropped — repeated calls
    # don't accumulate entries in the session cache manager.
    hashed = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_n).alias("shingles"),
    ).withColumn(
        "base",
        F.transform(
            "shingles", lambda s: F.pmod(portable_hash32(s), F.lit(_MERSENNE))
        ),
    ).transform(checkpoint_corpus)

    sig = minhash_signature_kernel(num_perm, seed)(F.col("base"))
    base = hashed.select("id", "shingles", sig.alias("sig"))

    # Second boundary ABOVE the signature kernel: an id-keyed exchange
    # (unique key — unskewable) that every consumer of band_rows reads
    # back as one reused shuffle stage, so the kernel — the pipeline's
    # most expensive stage — evaluates ONCE even under the pairs
    # self-join (r11 dupPy audit: it ran once per join side). The band
    # re-derivation per side is cheap JVM md5. Two deliberate choices,
    # both 1000×-ladder-measured (r11):
    # - NOT a band-key repartition: user REPARTITION_BY_COL is excluded
    #   from AQE's skew-join splitting, and without that splitting the
    #   hot-bucket pair join heap-OOMs;
    # - EXPLICIT partition count: with no count, AQE's parallelismFirst
    #   coalesced this small exchange (~150 MB of signatures) to ~6
    #   partitions, strangling every downstream map stage's width —
    #   328.7 s vs 117.9 s at the 300× rung. An explicit count pins the
    #   read width; at real scale the count is the core count and the
    #   signatures are large enough that AQE wouldn't coalesce anyway.
    sig_shared = hashed.select("id", sig.alias("sig")).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col("id")
    )

    band_rows = sig_shared.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    # md5 of the joined band values: a fixed-width,
                    # engine-portable join key (equality ⟺ equality of
                    # the band's signature slice)
                    F.md5(
                        F.concat_ws(
                            "_",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("id", "band.band_idx", "band.band_hash")
    return base, band_rows


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Candidate pairs whose exact shingle-Jaccard ≥ threshold, found via
    banded MinHash-LSH.

    Pipeline (per 100 TB reasoning):
      1. one scan computing (id, shingles, signature);
      2. explode to (band_idx, band_hash, id) — bands·n rows, narrow;
      3. self-join on the band key = shuffle on band_hash only.
         Identical-doc floods make hot buckets; AQE skew-join splits
         them, and `distinct` collapses multi-band duplicates before the
         expensive verify;
      4. exact Jaccard verify joins shingle sets back by id (two hash
         joins on id) — only for candidates, not the full pair space.
    """
    base, band_rows = minhash_base_and_bands(
        df,
        text_col,
        id_col,
        num_perm=num_perm,
        bands=bands,
        shingle_n=shingle_n,
        seed=seed,
    )

    # Plain self-join on ENSURE exchanges, on purpose: both sides read
    # the kernel output back from minhash_base_and_bands' shared
    # id-keyed exchange (kernel once — plan-pinned in test_plans), and
    # ENSURE-origin shuffles are the ones AQE's skew-join rule can
    # split when an N-copy cluster floods one band bucket. (A band-key
    # repartition here would reuse one exchange but is excluded from
    # skew splitting — it heap-OOMed the 1000× ladder, r11.)
    l = band_rows.alias("l")
    r = band_rows.alias("r")
    candidates = (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )

    sh = base.select("id", "shingles")
    # |A∪B| = |A|+|B|-|A∩B| exactly: word_shingles emits array_distinct
    # grams, so computing the union SIZE arithmetically skips
    # materializing the union array per pair (~10% off the verify
    # stage at the sf1 rung, r13) — same integer operands, same double
    # division, same round.
    verified = (
        candidates.join(sh.withColumnsRenamed({"id": "id_a", "shingles": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "shingles": "sh_b"}), "id_b")
        .withColumn("__i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("__i")
                / (F.size("sh_a") + F.size("sh_b") - F.col("__i")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Fuzzy dedup: drop every doc that near-duplicates a lower-id doc.

    Connected-component-lite: a doc survives unless it pairs (as the
    higher id) with any other doc — single-linkage one level deep, the
    standard large-corpus compromise (full transitive closure needs
    iterative joins; see GraphFrames-style CC for the exact variant).
    """
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# --- SimHash -----------------------------------------------------------------

@F.pandas_udf(LongType())
def _simhash_from_hashes(hashes: pd.Series) -> pd.Series:
    """64-bit SimHash from an array<long> of token hashes (Arrow-batched;
    one numpy pass per batch instead of 64 SQL array scans)."""
    import numpy as np

    out = np.zeros(len(hashes), dtype=np.int64)
    bit_idx = np.arange(64, dtype=np.uint64)
    for i, hs in enumerate(hashes):
        if hs is None or len(hs) == 0:
            continue
        arr = np.asarray(hs, dtype=np.int64).astype(np.uint64)
        bits = (arr[:, None] >> bit_idx) & np.uint64(1)
        # signed accumulator: uint64 would underflow when ones < n/2
        votes = bits.sum(axis=0).astype(np.int64) * 2 - len(arr)
        sim = np.uint64(0)
        for b in np.nonzero(votes > 0)[0]:
            sim |= np.uint64(1) << np.uint64(b)
        out[i] = np.int64(sim)
    return pd.Series(out)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) — token hashing stays JVM-side (portable md5-prefix
    hash, so the full pipeline is oracle-reproducible); only the
    bit-vote fold crosses to Python, Arrow-batched."""
    df = ensure_parallelism(df, id_col)
    toks = F.split(normalize_text(F.col(text_col)), " ")
    hashes = F.transform(toks, lambda t: portable_hash63(t))
    return df.select(
        F.col(id_col).alias("id"),
        _simhash_from_hashes(hashes).alias("simhash"),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Candidates via 4×16-bit chunk banding (pigeonhole: any pair within
    Hamming 3·chunk bits shares ≥1 exact chunk; for max_hamming ≤ 48
    this is exact candidate cover with 4 chunks... practically, ≤15 with
    4 chunks guarantees a shared chunk only for ≤3 differing chunks —
    standard SimHash banding recall).
    """
    sigs = simhash_signatures(df, text_col, id_col).transform(checkpoint_corpus)
    chunks = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", "c.chunk_idx", "c.chunk_val")

    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# --- exact n-gram Jaccard (SQL-expressible oracle baseline) ------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """All pairs with exact word-n-gram Jaccard ≥ threshold via explode +
    equi-join on the shingle (shuffles on shingle hash — the exact
    baseline that LSH approximates with bounded shuffle width).

    ``max_shingle_df`` bounds the hot-shingle blowup: a shingle shared
    by d documents produces a d² candidate bucket in the self-join, so
    one ubiquitous trigram ("one of the") makes the plan quadratic in
    corpus size. Shingles with document frequency > K are dropped from
    the CANDIDATE join only (the standard df-cap trick; per-shingle
    cost is then ≤ K²) while Jaccard denominators still use the full
    shingle-set sizes — intersections are undercounted by at most the
    capped shingles, a one-sided error that vanishes when no shingle
    exceeds K. ``None`` disables the cap (exact, unbounded).
    """
    sh = (
        ensure_parallelism(df, id_col).select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
        )
    )
    # ONE shingle-keyed exchange + materialization feeds everything
    # downstream (the q130/q280 pattern): the tokenize+shingle explode
    # — the CPU bound — used to be re-evaluated for every consumer
    # (sizes, the df-cap, both self-join sides: 6 Generate nodes /
    # 6 FileScans in q109's executed plan, zero runtime reuse; AQE did
    # not collapse the identical exchange either — the link_prediction
    # triple-distinct lesson, measured again here). The per-shingle
    # document frequency is a count window inside the same partitioning
    # (word_shingles emits array_distinct grams, so rows are unique per
    # (shingle, id) and count(*) ≡ document frequency), replacing the
    # separate frequency aggregate + join-back. The eager checkpoint
    # stores the same bytes one shuffle of the stream would write.
    occ = (
        sh.repartition("shingle")
        .withColumn(
            "__df",
            F.count("*").over(Window.partitionBy("shingle")),
        )
        .transform(checkpoint_corpus)
    )
    sizes = occ.groupBy("id").agg(F.count("*").alias("n_sh"))
    joinable = occ
    if max_shingle_df is not None:
        # df-cap against the quadratic bucket: same value the old
        # per-shingle groupBy computed, now free in the window
        joinable = occ.where(F.col("__df") <= max_shingle_df)
    l, r = joinable.alias("l"), joinable.alias("r")
    common = (
        l.join(r, (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    threshold_ppm: int = 500_000,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """All ORDERED-pair containments ≥ threshold: C(A→B) = |A∩B|/|A|
    over word-n-gram shingle sets (Broder 1997, "On the resemblance and
    containment of documents"). Asymmetric by design — a short quote
    fully contained in a long page has high C(quote→page) but LOW
    Jaccard, so symmetric near-dup misses exactly the subset/syndication
    relationships this surfaces. Pairs are emitted once (id_a < id_b)
    with BOTH directions' containments plus the Jaccard, all in exact
    ppm (division last); a pair survives if EITHER direction clears the
    threshold.

    Same scale machinery as :func:`ngram_jaccard_pairs`: explode +
    equi-join on the shingle, ``max_shingle_df`` caps the hot-shingle
    quadratic bucket (candidates only; denominators keep full sizes).
    """
    sh = ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )
    # Same single-evaluation shape as ngram_jaccard_pairs (see the
    # comment there): one shingle-keyed exchange, df as a count window
    # inside it (rows unique per (shingle, id) by array_distinct),
    # eager checkpoint so the explode kernel runs once for all four
    # consumers instead of six times.
    occ = (
        sh.repartition("shingle")
        .withColumn(
            "__df",
            F.count("*").over(Window.partitionBy("shingle")),
        )
        .transform(checkpoint_corpus)
    )
    sizes = occ.groupBy("id").agg(F.count("*").alias("n_sh"))
    joinable = occ
    if max_shingle_df is not None:
        joinable = occ.where(F.col("__df") <= max_shingle_df)
    l, r = joinable.alias("l"), joinable.alias("r")
    common = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    return (
        common.join(
            sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a"
        )
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "n_common * 1000000 div n_a AS cont_ab_ppm",
            "n_common * 1000000 div n_b AS cont_ba_ppm",
            "n_common * 1000000 div (n_a + n_b - n_common) AS jaccard_ppm",
        )
        .where(
            (F.col("cont_ab_ppm") >= threshold_ppm)
            | (F.col("cont_ba_ppm") >= threshold_ppm)
        )
    )


def dedup_incremental(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    attach_payload: bool = True,
) -> DataFrame:
    """Incremental exact dedup: drop batch docs whose fingerprint is
    already in a persisted index, then min-id-survivor dedup WITHIN the
    batch — the daily-ingest twin of :func:`dedup_exact`.

    ``index`` needs only a ``doc_fp`` column (the persisted fingerprint
    store — at 100 TB corpus scale history is consulted through this
    narrow table, never rescanned as text). Scale shape: one anti
    equi-join on the 128-bit fingerprint (AQE broadcasts it when a day's
    index fits) + one hash agg; both shuffles carry (fp, id) pairs only.

    ``attach_payload=False`` skips the final join-back onto ``batch``
    and returns just (id_col, dup_count): the surviving ids are the
    per-fingerprint min over batch ids, so every ``keep`` row matches
    exactly one batch row and the join-back adds only payload columns —
    callers that discard them (audits, counters) save a full batch
    scan plus the id-keyed join shuffle.

    Precondition: ``id_col`` must be UNIQUE within ``batch`` (implied
    by the min-id-survivor contract, stated here explicitly).  With
    duplicate ids the payload join-back would fan out each surviving
    row once per id occurrence while the slim path would not — the
    slim/full row-set equivalence holds only on unique ids.
    """
    fp = fingerprint(F.col(text_col)).alias("__fp")
    fresh = (
        batch.select(F.col(id_col), fp)
        .join(
            index.select(F.col("doc_fp").alias("__fp")).distinct(),
            "__fp",
            "left_anti",
        )
    )
    keep = fresh.groupBy("__fp").agg(
        F.min(id_col).alias(id_col), F.count("*").alias("dup_count")
    )
    if not attach_payload:
        return keep.select(id_col, "dup_count")
    return batch.join(keep.select(id_col, "dup_count"), on=id_col, how="inner")


def _bloom_positions(fp_col, n_bits: int, k: int = 4):
    """``k`` probe positions carved from ONE md5 of the fingerprint —
    8 hex chars (32 bits) per probe, so k<=4 costs a single hash and
    both engines carve identical substrings."""
    if not 1 <= k <= 4:
        raise ValueError("k must be 1..4 (one md5 yields four 32-bit probes)")
    hx = F.md5(fp_col)
    return [
        F.conv(F.substring(hx, 1 + 8 * i, 8), 16, 10).cast("long")
        % F.lit(n_bits)
        for i in range(k)
    ]


def bloom_build(
    index: DataFrame,
    fp_col: str = "doc_fp",
    *,
    n_words: int = 4096,
    k: int = 4,
) -> DataFrame:
    """(word_idx, bits): a Bloom filter of the fingerprint set as 32-bit
    words held in BIGINTs — Spark's native ``bloom_filter_agg`` is not
    SQL-exposed, and this relational formulation is engine-portable
    (bit 31 is the highest used, so signed arithmetic never differs).

    Build cost is one explode (k rows per fingerprint) + one ``bit_or``
    hash aggregate on word_idx — map-side combined, and the result is at
    most ``n_words`` rows no matter how many billions of fingerprints
    went in: the broadcastable membership summary of an arbitrarily
    large index.
    """
    n_bits = 32 * n_words
    pos = index.select(
        F.explode(
            F.array(*_bloom_positions(F.col(fp_col), n_bits, k))
        ).alias("pos")
    )
    return (
        pos.select(
            F.expr("pos DIV 32").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"
            ).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_membership_dedup(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_words: int = 4096,
    k: int = 4,
) -> DataFrame:
    """Bloom-accelerated incremental dedup: per batch document, whether
    the Bloom filter of the index fingerprints flags it as a possible
    dup (``bloom_candidate``) and whether the exact verify confirms it
    (``is_dup``).

    This is the 100 TB shape of :func:`dedup_incremental` when the
    fingerprint index no longer fits a broadcast: the bloom words table
    is ≤ ``n_words`` rows REGARDLESS of index size and broadcasts to
    every executor, so the definitely-new majority of the batch is
    cleared scan-side with zero shuffle; only the candidate minority
    pays the exact equi-join against the index. Bloom filters have no
    false negatives (every true dup probes only set bits), so the exact
    join on the full batch — done here so the output also witnesses that
    property per row — can in production be restricted to candidates.

    Boundary tradeoff: the distinct index fingerprint set is
    materialized once (localCheckpoint) so the bloom build and the
    exact verify share ONE evaluation of the index subtree.  That pins
    the distinct-fp working set to executor storage (serialized,
    disk-spillable) and, like every localCheckpoint, truncates lineage
    — an executor loss during the query fails the job instead of
    recomputing.  Callers with an index too large to pin per-executor
    or needing lineage-based recovery should pre-materialize the
    ``doc_fp`` index to storage themselves and pass that table in; the
    operator then checkpoints only the (already narrow) distinct set.
    """
    # ONE evaluation of the index subtree: it used to run twice (once
    # under the bloom build, once as the exact-verify side), each time
    # re-running the upstream scan + fingerprint kernel. bit_or is
    # idempotent, so a bloom built from the DISTINCT fingerprint set is
    # bit-identical to one built from the raw stream — and the distinct
    # set is exactly what the exact verify joins against, so a single
    # eager materialization (the same bytes the verify's distinct
    # shuffle writes anyway) now feeds both consumers.
    idx_fp = index.select("doc_fp").distinct().transform(checkpoint_corpus)
    words = bloom_build(idx_fp, n_words=n_words, k=k)
    n_bits = 32 * n_words
    b = batch.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("__fp")
    )
    probes = b.select(
        id_col,
        "__fp",
        F.explode(
            F.array(*_bloom_positions(F.col("__fp"), n_bits, k))
        ).alias("pos"),
    )
    hits = probes.join(
        F.broadcast(words),
        F.expr("pos DIV 32") == F.col("word_idx"),
        "left",
    ).select(
        id_col,
        "__fp",
        F.when(
            F.col("bits").isNotNull()
            & (
                F.col("bits").bitwiseAND(
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"
                    )
                )
                != 0
            ),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    cand = hits.groupBy(id_col, "__fp").agg(
        (F.sum("hit") == k).alias("bloom_candidate")
    )
    idx = (
        idx_fp.select(F.col("doc_fp").alias("__fp"))
        .withColumn("__in_idx", F.lit(True))
    )
    return (
        cand.join(idx, "__fp", "left")
        .select(
            id_col,
            "bloom_candidate",
            (
                F.col("bloom_candidate") & F.col("__in_idx").isNotNull()
            ).alias("is_dup"),
        )
    )


def ppjoin_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity self-join with PPJoin-style PREFIX FILTERING
    (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW 2008): order every document's shingles by GLOBAL
    document frequency (rarest first) and join only on each document's
    length-(|x| - ceil(t·|x|) + 1) prefix — the prefix-filtering
    theorem guarantees two sets with Jaccard ≥ t share at least one
    prefix token, so candidate generation is LOSSLESS (unlike LSH) while
    the join fans out only the rare head of each document instead of
    its whole shingle set.

    vs :func:`ngram_jaccard_pairs`: the df-cap there bounds the hot
    bucket by DROPPING frequent shingles (one-sided undercount); the
    prefix here never drops a true pair AND sends frequent shingles
    through the join only when a document is so repetitive they reach
    its prefix.  The frequency ordering concentrates candidates on
    rare shingles, whose buckets are small by definition — the standard
    production-scale exact set join.

    Shuffle budget: shingle-freq agg, freq join-back, per-doc collect
    (id), prefix self-join (shingle), pair distinct, two id-keyed
    verify joins — all equi-keyed, none quadratic in the corpus.  The
    verify intersects the two full (distinct) shingle arrays JVM-side.
    """
    sh = ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    docs = (
        sh.join(freq, "shingle")
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias(
                "__s"
            )
        )
        .select(
            "id",
            F.transform("__s", lambda s: s["shingle"]).alias("sh_arr"),
        )
        # used three times (prefix generation + both verify sides):
        # materialize once or the scan→freq-join→collect subtree runs
        # 3× and triples the exchange count
        .transform(checkpoint_corpus)
    )
    prefix_len = (
        F.size("sh_arr")
        - F.ceil(F.lit(threshold) * F.size("sh_arr"))
        + F.lit(1)
    ).cast("int")
    cand = docs.select(
        "id", F.explode(F.slice("sh_arr", 1, prefix_len)).alias("shingle")
    )
    pairs = (
        cand.alias("a")
        .join(
            cand.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    da = docs.select(F.col("id").alias("id_a"), F.col("sh_arr").alias("sh_a"))
    db = docs.select(F.col("id").alias("id_b"), F.col("sh_arr").alias("sh_b"))
    return (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .withColumn(
            "__j",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .where(F.col("__j") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("__j", 4).alias("jaccard"))
    )


def span_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    span_tokens: int = 20,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Span-granular (paragraph-level) dedup with document reassembly —
    the RefinedWeb/ExactSubstr middle ground between whole-document
    dedup (q30) and boilerplate *scoring* (q130): every document is cut
    into fixed ``span_tokens``-token spans, each span survives only at
    its FIRST corpus occurrence (ordered by ``(id, span ordinal)``), and
    each document is re-assembled from its surviving spans in order.

    Output: one row per input document with ``n_spans`` (before),
    ``n_kept`` (after), and ``clean_text`` (the re-assembled document;
    ``''`` when every span was seen earlier elsewhere).

    Scale shape: two shuffles, both linear in corpus tokens — (1) the
    first-occurrence window keyed on the span text, (2) the reassembly
    groupBy on the document id. No pair enumeration and no quadratic
    term anywhere: a span duplicated across a million documents costs
    one window partition of a million NARROW rows, not 10^12 pairs. At
    100 TB the window key would be ``fingerprint(span)`` (128-bit) so
    shuffle rows stay narrow on the first hop; the raw text key is kept
    here for engine-exact oracle comparison (no collision caveat).
    """
    from pyspark.sql import Window

    from adhesive_spark.operators.text import chunk_documents

    carry = list(carry_cols)
    spans = chunk_documents(
        docs,
        text_col,
        id_col,
        chunk_size=span_tokens,
        stride=span_tokens,
        carry_cols=carry_cols,
    )
    w = Window.partitionBy("chunk_text").orderBy(id_col, "chunk_id")
    ranked = spans.withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") == 1
    return ranked.groupBy(id_col, *carry).agg(
        F.count("*").alias("n_spans"),
        F.count_if(kept).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(kept, F.struct("chunk_id", "chunk_text"))
                    )
                ),
                lambda s: s.chunk_text,
            ),
            " ",
        ).alias("clean_text"),
    )


def persist_minhash_index(
    docs: DataFrame,
    table: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    n_buckets: int = 32,
) -> None:
    """Persist the LSH near-dup index: band rows BUCKETED BY band_hash
    (collision lookups co-locate) plus a ``<table>__shingles`` side
    table bucketed by id (the exact-Jaccard verify payload).  The #1
    recurring cost of production near-dup — re-computing every
    signature per batch — is paid ONCE here; each
    :func:`probe_minhash_index` batch then signatures only ITSELF and
    joins the persisted bands."""
    from adhesive_spark.sources.formats import write_bucketed_table
    from adhesive_spark.sources.fsutil import hadoop_fs

    spark = docs.sparkSession
    wh = spark.conf.get("spark.sql.warehouse.dir")
    for t in (table, f"{table}__shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        fs, loc, _ = hadoop_fs(spark, f"{wh}/{t}")
        if fs.exists(loc):
            fs.delete(loc, True)
    base, band_rows = minhash_base_and_bands(
        docs,
        num_perm=num_perm,
        bands=bands,
        shingle_n=shingle_n,
        seed=seed,
    )
    write_bucketed_table(
        band_rows, table, bucket_cols=["band_hash"], n_buckets=n_buckets
    )
    write_bucketed_table(
        base.select("id", "shingles"),
        f"{table}__shingles",
        bucket_cols=["id"],
        n_buckets=n_buckets,
    )


def probe_minhash_index(
    docs: DataFrame,
    table: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs between ``docs`` (signatured fresh) and a
    :func:`persist_minhash_index` table (never re-signatured): band
    collisions generate candidates, the persisted shingle table powers
    the exact-Jaccard verify, and only ``probe_id < index_id`` pairs
    are emitted (self-probing the indexed corpus therefore reproduces
    :func:`minhash_lsh_pairs` exactly — the oracle contract of q154).

    Scale shape: probe-side cost is proportional to the BATCH, not the
    corpus; the index side ships only the colliding bands/shingles.

    Every join here is pinned to sort-merge (r12, measured): AQE's
    broadcast conversion sizes a side by its COMPRESSED shuffle bytes,
    and a duplicate-heavy batch — exactly this operator's workload —
    under-reports by the duplication factor. At the 10 000× stress rung
    (2.5 M-row batch holding 250 distinct texts) AQE broadcast a band
    side whose compressed bytes looked tiny and the deserialized
    HashedRelation blew the driver's broadcast build
    ("Not enough memory to build and broadcast", 48 g heap). Neither
    side of any probe join is contractually small — batch and index
    both scale with production — so the merge pin costs only a sort on
    genuinely small inputs while staying spill-safe AND inside AQE's
    skew-join splitting when an N-copy cluster floods one band bucket
    (the same reason the pairs self-join keeps plain ENSURE
    exchanges)."""
    spark = docs.sparkSession
    probe_base, probe_bands = minhash_base_and_bands(
        docs,
        num_perm=num_perm,
        bands=bands,
        shingle_n=shingle_n,
        seed=seed,
    )
    idx = spark.table(table)
    # id-normalized pairs: a NEW batch usually carries HIGHER ids than
    # the index, so the pair is ordered with least/greatest rather than
    # probe<index (which would silently drop every new-vs-indexed hit);
    # self-probing still emits each pair once, matching q37
    candidates = (
        probe_bands.alias("p")
        .join(
            idx.hint("merge").alias("i"),
            (F.col("p.band_idx") == F.col("i.band_idx"))
            & (F.col("p.band_hash") == F.col("i.band_hash"))
            & (F.col("p.id") != F.col("i.id")),
        )
        .select(
            F.least("p.id", "i.id").alias("id_a"),
            F.greatest("p.id", "i.id").alias("id_b"),
        )
        .distinct()
    )
    # verify shingles can come from EITHER side of a normalized pair:
    # union probe-fresh and persisted, deduped by id (identical rows
    # when self-probing)
    sh_all = (
        probe_base.select("id", "shingles")
        .unionByName(spark.table(f"{table}__shingles"))
        .dropDuplicates(["id"])
    )
    psh = sh_all.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    ish = sh_all.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(psh.hint("merge"), "id_a")
        .join(ish.hint("merge"), "id_b")
        # union size arithmetically (shingle arrays are distinct) —
        # same rewrite as minhash_lsh_pairs' verify, same values
        .withColumn("__i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("__i")
                / (F.size("sh_a") + F.size("sh_b") - F.col("__i")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
