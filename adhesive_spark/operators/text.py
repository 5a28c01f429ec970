"""Text-analysis operators for training-data pipelines.

All hot-path computation is built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen), except the Gopher repetition masses, one Arrow UDF
(:func:`gopher_masses_kernel`). Each operator returns Column
expressions so they compose into a single projection over the corpus
(one scan, no shuffles at 100 TB).

Extends the reference's delegated scalar-function surface (SURVEY §2.3)
with: tokenization, token counting, quality scoring, language-ID
(n-gram/stopword heuristic), and document fingerprinting.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

from adhesive_spark.operators.curation import cap_per_group
from adhesive_spark.sources.registry import checkpoint_corpus

#: Tiny per-language marker lexicons for the heuristic language scorer.
#: Deliberately small and SQL-expressible so the same scoring is
#: reproducible in any ANSI engine (the correctness oracle).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "that", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit"),
    "fr": ("le", "la", "les", "et", "est", "que", "pour"),
    "es": ("el", "los", "las", "es", "que", "para", "una"),
}

STOPWORDS_EN = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "was", "at", "by",
)


def normalize_text(col) -> Column:
    """Lowercase + whitespace-collapse + trim — the canonical form used
    by fingerprinting and dedup shingling."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalize_text(col), " ")


def token_count(col) -> Column:
    return F.size(tokens(col))


def char_count(col) -> Column:
    return F.length(col)


def token_estimate_bpe(col) -> Column:
    """BPE-ish token-count estimate: ~4 chars/token heuristic, floored
    by the whitespace token count."""
    return F.greatest(
        F.ceil(F.length(normalize_text(col)) / F.lit(4.0)).cast("long"),
        token_count(col).cast("long"),
    )


def fround(expr, k: int) -> Column:
    """Floor-based fixed-point rounding: floor(x·10^k)/10^k.

    Used instead of ROUND for exact-ratio columns because engines
    disagree on half-boundary doubles (Spark rounds the shortest decimal
    repr HALF_UP; DuckDB rounds the exact binary value) — floor of an
    identical double is identical everywhere. Non-negative inputs only.
    """
    scale = float(10**k)
    return F.floor(expr * scale) / F.lit(scale)


def scaled_long(expr, k: int = 2) -> Column:
    """Per-row fixed-point quantization: round(x·10^k) cast to long.

    The deterministic-aggregation primitive: when the data's true grain
    divides 10^-k (e.g. 2-decimal money, 4-decimal quality scores), this
    recovers the exact integer count of 10^-k units per row, so SUM over
    it is exact integer arithmetic — independent of partial-aggregation
    order, hence identical across engines. SUM over the raw doubles is
    NOT: Spark and DuckDB accumulate in different orders, and when the
    true total sits exactly on a rounding boundary (common for grained
    data — a cents total ending in .50 under ROUND(…,0)), the ulp-level
    order difference flips the rounded output (the q32/q48 failure
    class). Divide the long sum back by 10^k once at the output
    boundary: a single correctly-rounded fp op on identical operands.

    ROUND (not floor) on the row value: x·10^k lands within 1 ulp of the
    true integer, never near .5, so nearest-integer is exact and
    engine-agnostic where floor would be off by one when the product
    falls an ulp below the integer.

    DuckDB oracle twin: ``CAST(ROUND((x) * 10^k, 0) AS BIGINT)``.
    """
    return F.round(expr * F.lit(float(10**k)), 0).cast("long")


def stopword_ratio(col, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    toks = tokens(col)
    stops = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return fround(n_stop / F.greatest(F.size(toks), F.lit(1)), 4)


def uppercase_ratio(col) -> Column:
    n_upper = F.length(F.regexp_replace(col, "[^A-Z]", ""))
    return fround(n_upper / F.greatest(F.length(col), F.lit(1)), 4)


def punct_ratio(col) -> Column:
    n_punct = F.length(F.regexp_replace(col, r"[^.,!?;:]", ""))
    return fround(n_punct / F.greatest(F.length(col), F.lit(1)), 4)


def mean_word_length(col) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return fround(total / F.greatest(F.size(toks), F.lit(1)), 2)


def quality_score(col) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence
    - punctuation/uppercase noise. Deterministic, SQL-expressible."""
    n_chars = F.length(col)
    length_ok = F.when((n_chars >= 100) & (n_chars <= 20000), 1.0).otherwise(0.3)
    stop_component = F.least(stopword_ratio(col) * 4, F.lit(1.0))
    noise = F.least(punct_ratio(col) * 5 + uppercase_ratio(col) * 2, F.lit(1.0))
    return fround(0.4 * length_ok + 0.4 * stop_component + 0.2 * (1 - noise), 4)


def lang_id_tokens(toks) -> Column:
    """Argmax language by marker hits over the token array ``toks``;
    ties broken by the fixed language order in LANG_MARKERS; 'und'
    (undetermined) when no marker hits."""
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        marks = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(marks, t)))
    # Build a strictly-greater chain so the FIRST language wins ties.
    expr = F.lit("und")
    best_score = F.lit(-1)
    for lang in reversed(list(scores)):
        s = scores[lang]
        expr = F.when((s >= 1) & (s >= best_score), F.lit(lang)).otherwise(expr)
        best_score = F.greatest(s, best_score)
    return expr


def lang_id(col) -> Column:
    """``lang_id_tokens`` over the whitespace tokens of ``col``."""
    return lang_id_tokens(tokens(col))


def fingerprint(col) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (exact-dedup key; portable to any engine)."""
    return F.md5(normalize_text(col))


def winnow_fingerprints(col, *, k: int = 8, w: int = 4) -> Column:
    """Winnowing document fingerprints (rolling-hash selection):
    character k-gram hashes → min hash per sliding window of w grams →
    distinct selected hashes. Any two documents sharing a sufficiently
    long substring share a fingerprint (the winnowing guarantee), which
    makes the selected set a compact near-dup/plagiarism signature.

    The k-gram "rolling hash" is the first 8 hex chars of md5 — portable
    across engines (the correctness oracle reproduces it verbatim in
    DuckDB), computed per gram inside one higher-order expression: no
    Python, no shuffle, one projection.
    """
    # Every multiply-referenced subexpression is BOUND ONCE per row via
    # the single-element transform scope: referencing `grams` directly
    # from the sliding-window lambda lets CollapseProject re-inline the
    # whole md5-per-gram subtree into EVERY window, turning O(L) gram
    # hashing into O(L²) per document (measured 600× slower at sf0.01).
    def _grams(norm_bound):
        n_grams = F.length(norm_bound) - (k - 1)
        return F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            # Column.substr (unlike F.substring pre-4.x) accepts Column
            # positions, which the lambda variable requires.
            lambda i: F.md5(norm_bound.substr(i, F.lit(k))).substr(
                F.lit(1), F.lit(8)
            ),
        )

    def _mins(grams_bound):
        n_windows = F.size(grams_bound) - (w - 1)
        return F.when(
            n_windows >= 1,
            F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda j: F.array_min(F.slice(grams_bound, j, w)),
            ),
        ).otherwise(F.array(F.array_min(grams_bound)))

    grams = F.element_at(
        F.transform(F.array(normalize_text(col)), _grams), 1
    )
    mins = F.element_at(F.transform(F.array(grams), _mins), 1)
    return F.array_distinct(mins)


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    top_n: int = 3,
    min_token_len: int = 3,
) -> DataFrame:
    """Top-N tokens per document by smoothed TF-IDF
    (tf · ln((N+1)/(df+1))), entirely in built-in expressions.

    Two shuffles at any scale: token doc-frequency (groupBy token, with
    map-side partial counts) and the per-doc top-N window. Ranking uses
    the score ROUNDED to 6 decimals with token tie-break so the order is
    reproducible across engines (raw float ordering is not).
    """
    # ONE tokenize+explode pass: tf is the (doc, token) grain, and the
    # doc frequency is exactly one count per tf row (tf holds one row
    # per distinct (doc, token)), so the former second explode over
    # array_distinct tokens is a plain re-aggregation of tf
    raw = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(
                tokens(F.col(text_col)), lambda t: F.length(t) >= min_token_len
            )
        ).alias("token"),
    )
    # grain materialized once (the tokenize-family shape): both the
    # scored side and the doc-frequency marginal read it back instead
    # of re-running the explode kernel
    tf = (
        raw.groupBy("id", "token")
        .agg(F.count("*").alias("tf"))
        .transform(checkpoint_corpus)
    )
    # corpus size as a broadcast scalar relation — keeps the operator
    # fully lazy (no driver-side count() action in the plan build)
    n_docs = df.select(F.count("*").cast("double").alias("__n"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            fround(
                F.col("tf")
                * F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)),
                6,
            ),
        )
    )
    return cap_per_group(
        scored, "id", [F.col("score").desc(), F.col("token")], top_n
    ).select(F.col("id").alias(id_col), "token", "tf", "df", "score", "rank")


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-scan projection computing the full text-analysis profile.
    Regex/array compute per row is heavy → decouple from input splits."""
    from adhesive_spark.sources.registry import ensure_parallelism

    df = ensure_parallelism(df)
    c = F.col(text_col)
    return df.select(
        "*",
        char_count(c).alias("n_chars_computed"),
        token_count(c).alias("n_tokens"),
        token_estimate_bpe(c).alias("n_tokens_bpe"),
        stopword_ratio(c).alias("stop_ratio"),
        punct_ratio(c).alias("p_punct"),
        uppercase_ratio(c).alias("p_upper"),
        mean_word_length(c).alias("mean_wlen"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_pred"),
        fingerprint(c).alias("doc_fp"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    chunk_size: int = 128,
    stride: int = 96,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Overlapping token-window chunking — the context-window prep step
    of a training/embedding pipeline (chunk_size-token windows every
    stride tokens, so consecutive chunks overlap by chunk_size-stride).

    Scale shape: pure built-ins (split → sequence → posexplode → slice),
    zero Python and ZERO shuffle — chunks stream straight out of the
    scan stage, and output size is rows × n_tokens/stride. The chunk id
    is the window ordinal, so (id, chunk_id) is a stable key for
    downstream embedding/packing joins.  ``carry_cols`` ride through the
    explode unchanged — the scale-honest alternative to joining metadata
    back onto the chunks afterwards (at 100 TB that join-back is a
    corpus-wide shuffle or an unbroadcastable build side).
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    carry = list(carry_cols)
    base = df.select(
        F.col(id_col), *carry, tokens(F.col(text_col)).alias("__toks")
    )
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(F.col("__toks")) - 1, F.lit(0)),
        F.lit(stride),
    )
    return (
        base.select(
            id_col,
            *carry,
            "__toks",
            F.posexplode(starts).alias("chunk_id", "__start"),
        )
        .select(
            id_col,
            *carry,
            "chunk_id",
            F.slice("__toks", F.col("__start") + 1, chunk_size).alias("__chunk"),
        )
        .select(
            id_col,
            *carry,
            "chunk_id",
            F.size("__chunk").alias("n_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


def pack_sequences(
    chunks: DataFrame,
    group_col: str,
    order_cols: list[str],
    *,
    seq_tokens: int = 512,
    token_col: str = "n_tokens",
) -> DataFrame:
    """Assign chunks to fixed-size training sequences by running token
    offset — the concatenate-and-cut packing of LM pretraining: within
    each group, chunks are laid end-to-end in a deterministic order and
    a chunk belongs to sequence ``floor(start_offset / seq_tokens)``.

    Scale shape: one shuffle on the group key + an in-partition sort for
    the running sum — no global sort. A whale group serializes its own
    window; production packs per (group, shard) exactly like q76's
    shard assignment to bound that.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(token_col).over(w) - F.col(token_col)
    return chunks.withColumn(
        "seq_idx", F.floor(start / F.lit(seq_tokens)).cast("int")
    )


def repetition_metrics(col) -> dict[str, Column]:
    """Within-document repetition signals (the Gopher/RefinedWeb-style
    quality rules): the fraction of duplicated word trigrams and the
    share of the most frequent token. High values mark boilerplate,
    keyword stuffing, and generation loops — the docs a curation pass
    drops before training.

    All built-ins over ONE bound token array (no Python, no shuffle);
    fround keeps the ratios engine-exact for the oracle.
    """

    def _metrics(toks):
        n_tok = F.size(toks)
        tri = F.when(
            n_tok - 2 >= 1,
            F.transform(
                F.sequence(F.lit(1), n_tok - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            ),
        ).otherwise(F.array())
        n_tri = F.size(tri)
        dup_tri = F.when(
            n_tri >= 1,
            fround(
                (n_tri - F.size(F.array_distinct(tri))) / n_tri, 4
            ),
        ).otherwise(F.lit(0.0))
        # top-token share via longest run in the SORTED array — O(n log n)
        # (counting each distinct token against the array would be O(n²))
        run0 = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("int").alias("run"),
            F.lit(0).cast("int").alias("best"),
        )
        top = F.aggregate(
            F.array_sort(toks),
            run0,
            lambda acc, t: F.struct(
                t.alias("prev"),
                F.when(t == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        top_frac = fround(top / F.greatest(n_tok, F.lit(1)), 4)
        return F.struct(
            n_tok.alias("n_tokens"),
            dup_tri.alias("dup_trigram_frac"),
            top_frac.alias("top_token_frac"),
        )

    m = F.element_at(F.transform(F.array(tokens(col)), _metrics), 1)
    return {
        "n_tokens": m["n_tokens"],
        "dup_trigram_frac": m["dup_trigram_frac"],
        "top_token_frac": m["top_token_frac"],
    }


def persist_inverted_index(
    docs: DataFrame,
    table: str,
    *,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the full inverted index BUCKETED BY TOKEN — the write
    path q141's probe promises: postings are (token, doc, tf) rows laid
    out so a term lookup reads only the term's bucket (bucket pruning,
    plan-asserted in tests/test_plans.py), never the corpus.  The
    amortization twin of similarity.persist_ivf_index: the corpus pass
    is paid ONCE; every probe afterwards is bucket-pruned IO with no
    shuffle and no rebuild."""
    from adhesive_spark.sources.formats import write_bucketed_table
    from adhesive_spark.sources.fsutil import reset_table

    reset_table(docs.sparkSession, table)
    postings = (
        docs.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
        )
        .groupBy("token", id_col)
        .agg(F.count("*").alias("tf"))
    )
    write_bucketed_table(
        postings, table, bucket_cols=["token"], n_buckets=n_buckets
    )


def probe_inverted_index(
    spark, table: str, terms: list[str], *, head: int = 20
) -> DataFrame:
    """Term lookup against a :func:`persist_inverted_index` table: the
    IN filter on the bucket column prunes every non-matching bucket at
    the scan, so per-probe IO is the probed postings, not the index.
    Output per term: document frequency, total occurrences, and the
    sorted head of the posting list."""
    p = spark.table(table).where(F.col("token").isin(list(terms)))
    return p.groupBy("token").agg(
        F.count("*").alias("doc_freq"),
        F.sum("tf").alias("total_occurrences"),
        F.slice(F.sort_array(F.collect_list("doc_id")), 1, head).alias(
            "posting_head"
        ),
    )


def bigrams(toks_col) -> Column:
    """Adjacent-token bigram structs ``array<struct<w1,w2>>`` built
    IN-ROW with one higher-order transform (no positional self-join) —
    shared by the n-gram LM count (q181), the familiarity score (q186)
    and DSIR hashing (q280). Documents with fewer than two tokens yield
    an empty array (the guard matters: Spark's ``sequence(1, 0)`` would
    DESCEND, not empty out).

    The token expression is BOUND ONCE per row via the single-element
    transform scope: referenced directly from the per-index lambda, a
    ``tokens(col)`` argument would be re-inlined by CollapseProject and
    its split+regex re-evaluated for EVERY bigram — O(len²) per
    document (measured 8.5 s → 0.5 s on the sf0.1 corpus explode)."""

    def _pairs(toks):
        return F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.struct(
                    F.element_at(toks, i).alias("w1"),
                    F.element_at(toks, i + F.lit(1)).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    return F.element_at(F.transform(F.array(toks_col), _pairs), 1)


def gopher_masses_kernel() -> Column:
    """Arrow UDF for the exact Gopher repetition masses (q281): given
    the house token array, returns 12 longs
    ``[top2, dup2, top3, dup3, …, top7, dup7]`` where for word-n-gram
    lane n, ``top`` is the char mass (count·length) of the most
    frequent gram and ``dup`` the total char mass of grams occurring
    ≥ 2 times — gram length counts characters plus the n−1 joining
    spaces, exactly like the ``concat_ws(' ', …)`` the HOF reference
    (tests/_twins.py) builds. A null token array gives ``[0]×12``.

    Why a Python kernel on the hot path: the reference computes the same
    masses with built-in higher-order aggregates (sort + run-scan fully
    in-row), but Catalyst interprets HOF lambda expressions per
    element — measured ~3 ms/doc (10 k docs/s on local[32], STRESS.md
    round 10).  This Counter-based kernel is the same exact integers at
    ~2.3 k docs/s/core, ~7× the whole-box throughput, and keeps the
    scale contract: map-only, zero shuffle, no gram rows ever leave
    their document. The batch's 12 longs per row are written to one
    flat int64 buffer that becomes the output list column. Equality
    with the HOF reference is machine-checked by
    tests/test_training.py::test_gopher_vectorized_matches_hof_twin.
    """
    @arrow_udf(ArrayType(LongType()))
    def _masses(toks_col: pa.Array) -> pa.Array:
        vals = []
        for toks in toks_col.to_pylist():
            if toks is None:
                vals.extend([0] * 12)
                continue
            L = len(toks)
            # intern tokens to small ints: cheaper gram hashing, and
            # gram char length recovered from the id -> len table
            idmap: dict = {}
            lens: list = []
            ids = []
            for t in toks:
                i = idmap.get(t)
                if i is None:
                    i = len(idmap)
                    idmap[t] = i
                    lens.append(len(t))
                ids.append(i)
            for n in (2, 3, 4, 5, 6, 7):
                if L < n:
                    vals.extend((0, 0))
                    continue
                c = Counter(zip(*(ids[i:] for i in range(n))))
                top = 0
                dup = 0
                for g, cnt in c.items():
                    gl = sum(map(lens.__getitem__, g)) + (n - 1)
                    m = cnt * gl
                    if m > top:
                        top = m
                    if cnt >= 2:
                        dup += m
                vals.extend((top, dup))
        return pa.ListArray.from_arrays(
            np.arange(len(toks_col) + 1, dtype=np.int32) * 12,
            pa.array(vals, type=pa.int64()),
        )

    return _masses
