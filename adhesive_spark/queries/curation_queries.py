"""Corpus-curation queries: the post-dedup steps of a training-data
pipeline (PII redaction, contamination checks, stratified sampling,
per-domain caps, embedding quantization, and the end-to-end corpus
filter). Every query is fully DuckDB-oracle-checked; PII patterns are
restricted to Java-regex ∩ RE2 syntax so both engines see identical
matches.

Extension surface beyond the reference (its only operator is the scalar
UDF projection, src/fusion.rs:22-80); numbering continues the SURVEY
§2.4 table (q56 fills the gap left by the r01 numbering).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from adhesive_spark.operators.curation import (
    PII_ORDER,
    PII_PATTERNS,
    cap_per_group,
    contamination_pairs,
    mixture_sample,
    pii_counts,
    redact_pii,
    stratified_hash_sample,
)
from adhesive_spark.operators.similarity import quantize_embeddings
from adhesive_spark.operators.text import (
    bigrams,
    fingerprint,
    fround,
    lang_id,
    quality_score,
    scaled_long,
    token_count,
    tokens,
)
from adhesive_spark.queries.oracle_fragments import (
    _FP,
    _TOKS,
    _h32,
    _hex_int,
    _lang_sql,
    _quality_sql,
    _rare,
    _shingles,
)
from adhesive_spark.sources.registry import checkpoint_corpus, load_table

def _injected_text():
    """Deterministic PII injection: the synthetic corpus carries no PII,
    so q56 plants one instance of each class per document (keyed off
    doc_id) before redacting — exercising every pattern with
    oracle-reproducible inputs."""
    return F.concat(
        F.col("text"),
        F.lit(" Contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 321-654-0987, SSN 123-45-6789, host 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
    )


def q56_pii_redact(spark, sf_dir):
    """PII scrubbing over the corpus: per-class occurrence counts and
    the redacted text's fingerprint/length — one scan, four
    regexp passes, no shuffle beyond the final projection."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    t = _injected_text()
    counts = pii_counts(t)
    red = redact_pii(t)
    return docs.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ssn"].alias("n_ssn"),
        counts["ip"].alias("n_ip"),
        F.length(t).alias("n_chars_before"),
        F.length(red).alias("n_chars_after"),
        F.md5(red).alias("redacted_fp"),
    )


def q69_contamination_check(spark, sf_dir):
    """Benchmark-contamination sweep: the benchmark set is a 30-token
    excerpt of every 50th document (contamination by construction —
    benchmark items verbatim inside training text, the scenario the
    check exists for); the sweep must find each excerpt's source doc
    (containment ≈ 1) plus any near-dups of it. One equi-join on the
    8-gram shingle, df-capped hot shingles."""
    from adhesive_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0).select(
        "doc_id",
        F.concat_ws(" ", F.slice(tokens(F.col("text")), 5, 30)).alias("text"),
    )
    return contamination_pairs(
        docs, bench, "text", "doc_id", n=8, min_overlap=3
    )


def q70_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: per-source keep rates applied
    via md5-key buckets — reproducible across runs/engines/partitioning,
    unlike seeded RNG sampling."""
    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_hash_sample(
        docs,
        "doc_id",
        "source",
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
    )
    return kept.select("doc_id", "source", "n_chars")


def q71_domain_cap(spark, sf_dir):
    """Per-domain document cap (top-10 by size, deterministic
    tie-break): the anti-hub-domain step of crawl curation. One keyed
    shuffle + in-partition top-k."""
    docs = load_table(spark, sf_dir, "documents")
    capped = cap_per_group(
        docs.select("doc_id", "source", "n_chars"),
        "source",
        [F.col("n_chars").desc(), F.col("doc_id")],
        k=10,
    )
    return capped.select("doc_id", "source", "n_chars", "rank")


def q72_embedding_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization with per-vector scale and
    reconstruction RMSE — scalar summaries keep the result
    oracle-hashable."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    return quantize_embeddings(emb, "vec_id", "embedding", bits=8)


def q73_corpus_filter(spark, sf_dir):
    """The end-to-end curation composition: language filter (en) +
    quality floor + exact dedup (min-id survivor per fingerprint), then
    per-source corpus stats. Everything integer-exact at the aggregate
    boundary (scaled quality, token counts)."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    d = docs.select(
        "doc_id",
        "source",
        lang_id(c).alias("lang_pred"),
        scaled_long(quality_score(c), 4).alias("q_s"),
        fingerprint(c).alias("fp"),
        token_count(c).alias("n_tokens"),
    ).where((F.col("lang_pred") == "en") & (F.col("q_s") >= 5000))
    # argmin-as-aggregate (the q102 design): min over a doc_id-leading
    # struct carries the survivor's columns out of ONE fp-keyed
    # aggregate — the old min-id aggregate + join-back re-evaluated the
    # whole kernel projection (lang_id, quality, fingerprint, tokens)
    # a second time and paid a second corpus scan. doc_id is unique, so
    # the struct min IS the min-id row.
    kept = (
        d.groupBy("fp")
        .agg(
            F.min(
                F.struct("doc_id", "source", "q_s", "n_tokens")
            ).alias("__srv")
        )
        .select(
            F.col("__srv.source").alias("source"),
            F.col("__srv.q_s").alias("q_s"),
            F.col("__srv.n_tokens").alias("n_tokens"),
        )
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        fround(F.sum("q_s") / (F.count("*") * F.lit(10000.0)), 3).alias(
            "avg_quality"
        ),
    )


def q74_heavy_hitters(spark, sf_dir):
    """Corpus-wide token heavy hitters (vocabulary head): top-50 tokens
    by total occurrences with df alongside — two keyed aggregations
    (both map-side combined) + a driver-size top-k; the vocab-building
    primitive. Deterministic tie-break on the token itself."""
    from adhesive_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(tokens(F.col("text")), lambda t: F.length(t) >= 2)
        ).alias("token"),
    )
    counts = tok.groupBy("token").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    # TakeOrdered top-k first (no global sort of the whole vocabulary);
    # the rank window then runs over just the k survivors.
    from pyspark.sql.window import Window

    top = counts.orderBy(F.col("tf").desc(), F.col("token")).limit(50)
    return top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("tf").desc(), F.col("token"))),
    )


def q75_approx_quantile_contract(spark, sf_dir):
    """Sketch quantiles (approx_percentile, the Greenwald-Khanna path
    that replaces the full sort at 100 TB) next to their contract: with
    accuracy=1000 the returned element's rank error is ≤ 1/1000, so the
    estimate must lie within the exact percentile envelope p ± 0.005.
    The envelope is computed Spark-side from the exact sort-based
    percentile; the oracle asserts the booleans — the q42 pattern for
    engine-specific sketch values."""
    events = load_table(spark, sf_dir, "events")
    g = events.groupBy("event_type").agg(
        F.expr("approx_percentile(value, array(0.5, 0.95), 1000)").alias("ap"),
        F.expr("percentile(value, 0.495)").alias("lo50"),
        F.expr("percentile(value, 0.505)").alias("hi50"),
        F.expr("percentile(value, 0.945)").alias("lo95"),
        F.expr("percentile(value, 0.955)").alias("hi95"),
        F.count("*").alias("n"),
    )
    return g.select(
        "event_type",
        "n",
        ((F.col("ap")[0] >= F.col("lo50")) & (F.col("ap")[0] <= F.col("hi50")))
        .alias("p50_within_bound"),
        ((F.col("ap")[1] >= F.col("lo95")) & (F.col("ap")[1] <= F.col("hi95")))
        .alias("p95_within_bound"),
    )


def q82_mixture_sample(spark, sf_dir):
    """Curriculum mixing: resample sources toward a 50/30/20 target mix
    (src0/src1/src2, everything else excluded) at ~120 docs total —
    per-stratum rates computed in-query from the stratum counts, applied
    via deterministic md5 buckets. Verified by per-source output
    counts."""
    docs = load_table(spark, sf_dir, "documents")
    kept = mixture_sample(
        docs,
        "doc_id",
        "source",
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        target_total=120,
    )
    return kept.groupBy("source").agg(F.count("*").alias("n_kept"))


def q76_token_shards(spark, sf_dir):
    """Training-shard assignment (sequence packing's outer loop): within
    each source, documents in deterministic doc_id order are packed into
    ~2000-token shards by cumulative token count. One keyed shuffle +
    per-source window — NOT a global sort; at 100 TB the source (or any
    finer partition key) bounds each window's data. Shard boundaries are
    a pure function of the ordered token counts, so incremental reruns
    reproduce them."""
    from pyspark.sql.window import Window

    from adhesive_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    d = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    ).withColumn(
        "shard_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(2000)
        ).cast("int"),
    )
    return d.groupBy("source", "shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def q85_doc_chunking(spark, sf_dir):
    """Overlapping token-window chunking (64-token windows, stride 48):
    the context-window prep stage. Pure built-ins, no shuffle — chunks
    stream out of the scan."""
    from adhesive_spark.operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return chunk_documents(docs, "text", "doc_id", chunk_size=64, stride=48)


def q86_incremental_dedup(spark, sf_dir):
    """Incremental dedup of a new batch (doc_id >= 250) against the
    fingerprint index of already-ingested history (doc_id < 250):
    anti-join on the fingerprint store, then min-id survivor within the
    batch."""
    from adhesive_spark.operators.dedup import dedup_incremental
    from adhesive_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    index = docs.where(F.col("doc_id") < 250).select(
        fingerprint(F.col("text")).alias("doc_fp")
    )
    batch = docs.where(F.col("doc_id") >= 250)
    # attach_payload=False: this audit keeps only (doc_id, dup_count),
    # so the operator's payload join-back was a third documents scan +
    # an id-keyed join that contributed no columns to the output
    out = dedup_incremental(
        batch, index, "text", "doc_id", attach_payload=False
    )
    return out.select("doc_id", "dup_count")


def q87_sequence_packing(spark, sf_dir):
    """Concatenate-and-cut sequence packing: q85's chunks laid end-to-end
    per source in (doc_id, chunk_id) order, each chunk assigned to the
    512-token training sequence its start offset falls in; per-sequence
    chunk/token totals. One shuffle on source + in-partition running
    sum."""
    from adhesive_spark.operators.text import chunk_documents, pack_sequences

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    chunks = chunk_documents(docs, "text", "doc_id", chunk_size=64, stride=64)
    chunks = chunks.join(
        F.broadcast(docs.select("doc_id", "source")), "doc_id"
    )
    packed = pack_sequences(
        chunks, "source", ["doc_id", "chunk_id"], seq_tokens=512
    )
    return packed.groupBy("source", "seq_idx").agg(
        F.count("*").alias("n_chunks"),
        F.sum("n_tokens").cast("bigint").alias("seq_tokens_total"),
        F.min("doc_id").alias("first_doc"),
    )


def q93_repetition_quality(spark, sf_dir):
    """Gopher-style repetition filters: duplicate-trigram fraction and
    top-token share per document, with the keep decision — the
    boilerplate/loop detector of a curation pass. One scan, all
    built-ins (longest-sorted-run trick for the top token, O(n log n)
    per doc)."""
    from adhesive_spark.operators.text import repetition_metrics

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    m = repetition_metrics(F.col("text"))
    return docs.select(
        "doc_id",
        m["n_tokens"].alias("n_tokens"),
        m["dup_trigram_frac"].alias("dup_trigram_frac"),
        m["top_token_frac"].alias("top_token_frac"),
        (
            (m["dup_trigram_frac"] < 0.3) & (m["top_token_frac"] < 0.2)
        ).alias("keep"),
    )



def q102_curation_pipeline(spark, sf_dir):
    """The consolidated 100 TB-shape curation pipeline as ONE composed
    query — documents → exact dedup (min-id survivor per fingerprint,
    argmin-as-aggregate so there is no join-back) → Gopher-style
    repetition + length filter → non-overlapping 64-token chunking
    (metadata carried through the explode, no join) → 512-token sequence
    packing per source → per-sequence shard summary.

    The point is that the operators COMPOSE without a materialization
    wall: the whole pipeline is 2 shuffles total — one hash shuffle on
    the text fingerprint (dedup) and one on source (packing window); the
    filter and chunking fuse into the scan-side stages between them, and
    the final (source, seq_idx) aggregate reuses the window's
    hash(source) partitioning (it clusters the grouping key) rather than
    adding a third exchange.  tests/test_plans.py pins that budget.
    """
    from adhesive_spark.operators.text import (
        chunk_documents,
        fingerprint,
        pack_sequences,
        repetition_metrics,
    )

    docs = load_table(spark, sf_dir, "documents")
    surv = (
        docs.select(
            fingerprint(F.col("text")).alias("__fp"),
            F.struct("doc_id", "source", "text").alias("__row"),
        )
        .groupBy("__fp")
        .agg(F.min("__row").alias("__row"))
        .select("__row.doc_id", "__row.source", "__row.text")
    )
    m = repetition_metrics(F.col("text"))
    filt = surv.select(
        "doc_id",
        "source",
        "text",
        m["n_tokens"].alias("__nt"),
        m["dup_trigram_frac"].alias("__dtf"),
        m["top_token_frac"].alias("__ttf"),
    ).where(
        (F.col("__dtf") < 0.3)
        & (F.col("__ttf") < 0.2)
        & (F.col("__nt") >= 10)
    )
    chunks = chunk_documents(
        filt, "text", "doc_id", chunk_size=64, stride=64,
        carry_cols=("source",),
    )
    packed = pack_sequences(
        chunks, "source", ["doc_id", "chunk_id"], seq_tokens=512
    )
    return packed.groupBy("source", "seq_idx").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("seq_tokens_total"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def q100_corpus_report(spark, sf_dir):
    """One-row corpus health snapshot — the dashboard composition over
    the text kit: volume, source spread, exact-dup rate, language mix,
    quality, and token budget, all exact/quantized so the single output
    row hashes identically everywhere."""
    from adhesive_spark.operators.text import (
        fingerprint,
        fround,
        lang_id,
        quality_score,
        scaled_long,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    d = docs.select(
        "doc_id",
        "source",
        fingerprint(c).alias("fp"),
        lang_id(c).alias("lang"),
        scaled_long(quality_score(c), 4).alias("q_s"),
        token_count(c).alias("n_tok"),
    )
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        (F.count("*") - F.countDistinct("fp")).alias("n_exact_dups"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("bigint").alias("n_en"),
        fround(F.sum("q_s") / (F.count("*") * F.lit(10000.0)), 4).alias("mean_quality"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )


CURATION_QUERIES = {
    "q56_pii_redact": q56_pii_redact,
    "q69_contamination_check": q69_contamination_check,
    "q70_stratified_sample": q70_stratified_sample,
    "q71_domain_cap": q71_domain_cap,
    "q72_embedding_quantize": q72_embedding_quantize,
    "q73_corpus_filter": q73_corpus_filter,
    "q74_heavy_hitters": q74_heavy_hitters,
    "q75_approx_quantile_contract": q75_approx_quantile_contract,
    "q76_token_shards": q76_token_shards,
    "q82_mixture_sample": q82_mixture_sample,
    "q85_doc_chunking": q85_doc_chunking,
    "q86_incremental_dedup": q86_incremental_dedup,
    "q87_sequence_packing": q87_sequence_packing,
    "q93_repetition_quality": q93_repetition_quality,
    "q100_corpus_report": q100_corpus_report,
    "q102_curation_pipeline": q102_curation_pipeline,
}

# --- oracles -----------------------------------------------------------------

_PII_SQL = {name: PII_PATTERNS[name].replace("'", "''") for name in PII_ORDER}

_INJECTED_SQL = (
    "text || ' Contact: user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com or call 321-654-0987, SSN 123-45-6789, host 10.0.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.'"
)


def _redact_sql(expr: str, upto: int | None = None) -> str:
    out = expr
    for name in PII_ORDER[:upto]:
        out = f"regexp_replace({out}, '{_PII_SQL[name]}', '<{name.upper()}>', 'g')"
    return out


# progressively-redacted inputs for the sequential per-class counts
# (mirrors operators.curation.pii_counts exactly)
_redact_email = _redact_sql("it", 1)
_redact_phone = _redact_sql("it", 2)
_redact_ssn = _redact_sql("it", 3)


def _shingle8_cte(pred: str, alias: str) -> str:
    """8-gram shingle CTE mirroring word_shingles(n=8) for docs matching
    ``pred``."""
    return f"""
        {alias}_t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents WHERE {pred}
        ),
        {alias}_g AS (SELECT doc_id, {_shingles(8)} AS grams FROM {alias}_t),
        {alias}_x AS (SELECT doc_id, unnest(grams) AS shingle FROM {alias}_g)
    """


# 16-bit md5 prefix of doc_id as integer
_B16 = _hex_int("md5(CAST(doc_id AS VARCHAR))", 1, 4)

CURATION_ORACLES = {
    "q56_pii_redact": f"""
        WITH t AS (
          SELECT doc_id, {_INJECTED_SQL} AS it
          FROM documents WHERE doc_id < 300
        )
        SELECT doc_id,
               len(regexp_extract_all(it, '{_PII_SQL["email"]}')) AS n_email,
               len(regexp_extract_all({_redact_email}, '{_PII_SQL["phone"]}'))
                 AS n_phone,
               len(regexp_extract_all({_redact_phone}, '{_PII_SQL["ssn"]}'))
                 AS n_ssn,
               len(regexp_extract_all({_redact_ssn}, '{_PII_SQL["ip"]}'))
                 AS n_ip,
               length(it) AS n_chars_before,
               length({_redact_sql("it")}) AS n_chars_after,
               md5({_redact_sql("it")}) AS redacted_fp
        FROM t
    """,
    "q69_contamination_check": f"""
        WITH {_shingle8_cte("TRUE", "tr")},
        be_n AS (
          -- excerpt of the already-normalized token stream
          SELECT doc_id, ({_TOKS})[5:34] AS toks
          FROM documents WHERE doc_id % 50 = 0
        ),
        be_g AS (SELECT doc_id, {_shingles(8)} AS grams FROM be_n),
        be_x AS (SELECT doc_id, unnest(grams) AS shingle FROM be_g),{_rare("tr_x", "trf")},
        bsz AS (SELECT doc_id, len(grams) AS bench_n_sh FROM be_g),
        ov AS (
          SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
                 COUNT(*) AS n_common
          FROM trf t JOIN be_x b USING (shingle)
          GROUP BY 1, 2
          HAVING COUNT(*) >= 3
        )
        SELECT train_id, bench_id, n_common,
               floor(n_common / bench_n_sh * 10000) / 10000 AS containment
        FROM ov JOIN bsz ON ov.bench_id = bsz.doc_id
    """,
    "q70_stratified_sample": f"""
        SELECT doc_id, source, n_chars
        FROM documents
        WHERE {_B16} % 10000 <
              CASE source WHEN 'src0' THEN 10000
                          WHEN 'src1' THEN 5000
                          WHEN 'src2' THEN 2500
                          ELSE 1000 END
    """,
    "q71_domain_cap": """
        SELECT doc_id, source, n_chars, rank FROM (
          SELECT doc_id, source, n_chars,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY n_chars DESC, doc_id) AS INT) AS rank
          FROM documents
        ) WHERE rank <= 10
    """,
    "q72_embedding_quantize": """
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        s AS (
          SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS sc
          FROM e
        ),
        q AS (
          SELECT vec_id, v, sc,
                 list_transform(v, x -> CAST(round(x / sc * 127, 0) AS INT))
                   AS qc
          FROM s WHERE sc > 0
        )
        SELECT vec_id,
               len(v) AS n_dims,
               floor(sc * 1000000.0) / 1000000.0 AS scale,
               CAST(list_sum(qc) AS BIGINT) AS q_sum,
               list_min(qc) AS q_min,
               list_max(qc) AS q_max,
               floor(sqrt(list_sum(list_transform(range(1, len(v) + 1),
                            i -> (v[i] - qc[i] * sc / 127)
                                 * (v[i] - qc[i] * sc / 127)))
                          / len(v)) * 1000000.0) / 1000000.0 AS rmse
        FROM q
    """,
    "q82_mixture_sample": f"""
        WITH counts AS (
          SELECT source, COUNT(*) AS n FROM documents GROUP BY source
        ),
        rates AS (
          SELECT source,
                 least(1.0, CASE source WHEN 'src0' THEN 0.5
                                        WHEN 'src1' THEN 0.3
                                        WHEN 'src2' THEN 0.2
                                        ELSE 0.0 END * 120.0 / n) AS rate
          FROM counts
        )
        SELECT d.source, COUNT(*) AS n_kept
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE {_B16} % 10000 < floor(r.rate * 10000)
        GROUP BY d.source
    """,
    "q76_token_shards": f"""
        WITH d AS (
          SELECT doc_id, source, len({_TOKS}) AS n_tokens
          FROM documents
        ),
        s AS (
          SELECT doc_id, source, n_tokens,
                 CAST(floor((SUM(n_tokens) OVER (PARTITION BY source
                               ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                             - n_tokens) / 2000) AS INT) AS shard_id
          FROM d
        )
        SELECT source, shard_id, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc
        FROM s GROUP BY source, shard_id
    """,
    "q75_approx_quantile_contract": """
        SELECT event_type, COUNT(*) AS n,
               TRUE AS p50_within_bound,
               TRUE AS p95_within_bound
        FROM events GROUP BY event_type
    """,
    "q74_heavy_hitters": f"""
        WITH tok AS (
          SELECT doc_id, unnest(list_filter({_TOKS}, t -> length(t) >= 2))
                   AS token
          FROM documents
        ),
        c AS (
          SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
          FROM tok GROUP BY token
        )
        SELECT token, tf, df,
               CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS INT)
                 AS rank
        FROM c
        ORDER BY tf DESC, token
        LIMIT 50
    """,
    "q73_corpus_filter": f"""
        WITH t AS (
          SELECT doc_id, source, text, {_TOKS} AS toks FROM documents
        ),
        d AS (
          SELECT doc_id, source,
                 {_lang_sql()} AS lang_pred,
                 CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS q_s,
                 {_FP} AS fp,
                 len(toks) AS n_tokens
          FROM t
        ),
        k AS (
          SELECT * FROM d
          WHERE lang_pred = 'en' AND q_s >= 5000
        ),
        kept AS (
          SELECT * FROM k
          QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
        )
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               floor(SUM(q_s) / (COUNT(*) * 10000.0) * 1000.0) / 1000.0
                 AS avg_quality
        FROM kept GROUP BY source
    """,
    # Same normalization/tokenization as the Spark side; chunk_id is the
    # window ordinal (start/stride); INTs match Spark's 32-bit size/pos.
    "q85_doc_chunking": f"""
        WITH d AS (
          SELECT doc_id,
                 {_TOKS} AS toks
          FROM documents WHERE doc_id < 300
        ),
        s AS (SELECT doc_id, toks, len(toks) AS n FROM d),
        st AS (
          SELECT doc_id, toks, n,
                 unnest(generate_series(0, CAST(n - 1 AS BIGINT), 48)) AS start
          FROM s
        )
        SELECT doc_id,
               CAST(start // 48 AS INT) AS chunk_id,
               CAST(len(toks[start + 1 : start + 64]) AS INT) AS n_tokens,
               array_to_string(toks[start + 1 : start + 64], ' ') AS chunk_text
        FROM st
    """,
    "q86_incremental_dedup": f"""
        WITH fp AS (
          SELECT doc_id,
                 {_FP} AS doc_fp
          FROM documents
        ),
        index_fp AS (SELECT DISTINCT doc_fp FROM fp WHERE doc_id < 250),
        fresh AS (
          SELECT f.doc_id, f.doc_fp FROM fp f
          WHERE f.doc_id >= 250
            AND NOT EXISTS (SELECT 1 FROM index_fp i WHERE i.doc_fp = f.doc_fp)
        )
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
        FROM fresh GROUP BY doc_fp
    """,
    "q87_sequence_packing": f"""
        WITH d AS (
          SELECT doc_id, source,
                 {_TOKS} AS toks
          FROM documents WHERE doc_id < 300
        ),
        s AS (SELECT doc_id, source, toks, len(toks) AS n FROM d),
        st AS (
          SELECT doc_id, source, toks, n,
                 unnest(generate_series(0, CAST(n - 1 AS BIGINT), 64)) AS start
          FROM s
        ),
        chunks AS (
          SELECT doc_id, source,
                 CAST(start // 64 AS INT) AS chunk_id,
                 CAST(len(toks[start + 1 : start + 64]) AS INT) AS n_tokens
          FROM st
        ),
        packed AS (
          SELECT *,
                 CAST(floor((SUM(n_tokens) OVER (PARTITION BY source
                        ORDER BY doc_id, chunk_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - n_tokens) / 512) AS INT) AS seq_idx
          FROM chunks
        )
        SELECT source, seq_idx,
               COUNT(*) AS n_chunks,
               CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens_total,
               MIN(doc_id) AS first_doc
        FROM packed GROUP BY source, seq_idx
    """,
}

CURATION_ORACLES["q93_repetition_quality"] = f"""
    WITH d AS (
      SELECT doc_id,
             {_TOKS} AS toks
      FROM documents WHERE doc_id < 300
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CASE WHEN len(toks) - 2 >= 1 THEN
               list_transform(range(1, len(toks) - 2 + 1),
                              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
             ELSE [] END AS tri,
             toks
      FROM d
    ),
    r AS (
      SELECT doc_id, n_tokens,
             CASE WHEN len(tri) >= 1 THEN
               floor((len(tri) - len(list_distinct(tri))) * 1.0 / len(tri) * 10000) / 10000
             ELSE 0.0 END AS dup_trigram_frac,
             (SELECT MAX(c) FROM (
                SELECT COUNT(*) AS c FROM unnest(toks) AS u(t) GROUP BY t
             )) AS top_cnt
      FROM m
    )
    SELECT doc_id, n_tokens, dup_trigram_frac,
           floor(top_cnt * 1.0 / greatest(n_tokens, 1) * 10000) / 10000 AS top_token_frac,
           (dup_trigram_frac < 0.3
            AND floor(top_cnt * 1.0 / greatest(n_tokens, 1) * 10000) / 10000 < 0.2) AS keep
    FROM r
"""


CURATION_ORACLES["q100_corpus_report"] = f"""
    WITH t AS (
      SELECT doc_id, source, text, {_TOKS} AS toks FROM documents
    ),
    d AS (
      SELECT doc_id, source,
             {_lang_sql()} AS lang_pred,
             CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS q_s,
             {_FP} AS fp,
             len(toks) AS n_tok
      FROM t
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           COUNT(*) - COUNT(DISTINCT fp) AS n_exact_dups,
           CAST(SUM(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
           floor(SUM(q_s) * 1.0 / (COUNT(*) * 10000.0) * 10000) / 10000 AS mean_quality,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM d
"""

# q102: the composed pipeline — exact dedup (min-id survivor), the q93
# repetition filter, q85-style chunking (stride = size, no overlap), the
# q87 packing window, and the shard summary, all unrolled in one SQL.
CURATION_ORACLES["q102_curation_pipeline"] = f"""
    WITH f AS (
      SELECT doc_id, source, text,
             {_FP} AS doc_fp
      FROM documents
    ),
    surv AS (
      SELECT doc_id, source, text FROM (
        SELECT f.*, ROW_NUMBER() OVER (PARTITION BY doc_fp
                                       ORDER BY doc_id) AS rr
        FROM f
      ) WHERE rr = 1
    ),
    d AS (
      SELECT doc_id, source,
             {_TOKS} AS toks
      FROM surv
    ),
    m AS (
      SELECT doc_id, source, toks,
             len(toks) AS n_tokens,
             CASE WHEN len(toks) - 2 >= 1 THEN
               list_transform(range(1, len(toks) - 2 + 1),
                              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
             ELSE [] END AS tri
      FROM d
    ),
    r AS (
      SELECT doc_id, source, toks, n_tokens,
             CASE WHEN len(tri) >= 1 THEN
               floor((len(tri) - len(list_distinct(tri))) * 1.0 / len(tri) * 10000) / 10000
             ELSE 0.0 END AS dup_trigram_frac,
             (SELECT MAX(c) FROM (
                SELECT COUNT(*) AS c FROM unnest(toks) AS u(t) GROUP BY t
             )) AS top_cnt
      FROM m
    ),
    filt AS (
      SELECT doc_id, source, toks, n_tokens FROM r
      WHERE dup_trigram_frac < 0.3
        AND floor(top_cnt * 1.0 / greatest(n_tokens, 1) * 10000) / 10000 < 0.2
        AND n_tokens >= 10
    ),
    st AS (
      SELECT doc_id, source, toks,
             unnest(generate_series(0, CAST(n_tokens - 1 AS BIGINT), 64)) AS start
      FROM filt
    ),
    chunks AS (
      SELECT doc_id, source,
             CAST(start // 64 AS INT) AS chunk_id,
             CAST(len(toks[start + 1 : start + 64]) AS INT) AS n_tokens
      FROM st
    ),
    packed AS (
      SELECT *,
             CAST(floor((SUM(n_tokens) OVER (PARTITION BY source
                    ORDER BY doc_id, chunk_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tokens) / 512) AS INT) AS seq_idx
      FROM chunks
    )
    SELECT source, seq_idx,
           COUNT(*) AS n_chunks,
           COUNT(DISTINCT doc_id) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens_total,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM packed GROUP BY source, seq_idx
"""


def q114_group_exact_sample(spark, sf_dir):
    """Deterministic EXACT-K per-group sample: within each source, rank
    documents by a portable content-independent hash (md5 of the id)
    and keep the first 8 — the "give me exactly k examples per stratum"
    primitive (q70's rate sampler gives a BINOMIAL count per stratum;
    dashboards and eval-set builders need exactly k).  The hash
    ordering makes the sample stable across engines, partitionings, and
    runs.

    Scale shape: rank ≤ k over a window is rewritten by Spark into
    WindowGroupLimit — each map task keeps only its local top-k per
    group BEFORE the shuffle, so the exchange carries O(groups · k)
    rows, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "source", "doc_id", F.row_number().over(w).alias("pick")
        )
        .where(F.col("pick") <= 8)
        .select("source", "doc_id", F.col("pick").cast("int").alias("pick"))
    )


CURATION_QUERIES["q114_group_exact_sample"] = q114_group_exact_sample

CURATION_ORACLES["q114_group_exact_sample"] = """
    SELECT source, doc_id, CAST(pick AS INT) AS pick FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pick
      FROM documents
    ) WHERE pick <= 8
"""


def q122_weighted_sample(spark, sf_dir):
    """Per-source systematic PPS sample, weights = document length —
    the integer-exact weighted mixture sampler (see
    curation.systematic_pps_sample); long documents are
    proportionally more likely picks, and the whole draw is
    bit-reproducible across engines."""
    from adhesive_spark.operators.curation import systematic_pps_sample

    docs = load_table(spark, sf_dir, "documents")
    return systematic_pps_sample(
        docs, "n_chars", "source", "doc_id", k=12
    )


CURATION_QUERIES["q122_weighted_sample"] = q122_weighted_sample

CURATION_ORACLES["q122_weighted_sample"] = """
    WITH o AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight,
             SUM(CAST(n_chars AS BIGINT)) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum,
             SUM(CAST(n_chars AS BIGINT)) OVER (PARTITION BY source) AS w
      FROM documents
    )
    SELECT source, doc_id, weight,
           CAST((cum * 12) // w AS INT) AS pick_slot
    FROM o
    WHERE (cum * 12) // w > ((cum - weight) * 12) // w
"""


def q126_temperature_mixture(spark, sf_dir):
    """Per-source summary of a temperature-0.5 mixture draw over the
    corpus (curation.temperature_mixture, weights = characters): the
    kept counts realize sqrt-flattened source shares, and both the
    rates and the kept sets are bit-reproducible across engines."""
    from adhesive_spark.operators.curation import temperature_mixture

    docs = load_table(spark, sf_dir, "documents")
    kept = temperature_mixture(
        docs, "doc_id", "source", weight_col="n_chars"
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.col("n_chars").cast("long")).alias("chars_kept"),
        F.min("doc_id").alias("first_doc"),
    )


CURATION_QUERIES["q126_temperature_mixture"] = q126_temperature_mixture

CURATION_ORACLES["q126_temperature_mixture"] = f"""
    WITH mass AS (
      SELECT source, SUM(CAST(n_chars AS BIGINT)) AS m
      FROM documents GROUP BY source
    ),
    rates AS (
      SELECT source, sqrt((SELECT MIN(m) FROM mass) / (m * 1.0)) AS rate
      FROM mass
    )
    SELECT d.source, COUNT(*) AS n_kept,
           CAST(SUM(CAST(d.n_chars AS BIGINT)) AS BIGINT) AS chars_kept,
           MIN(d.doc_id) AS first_doc
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {_hex_int("md5(CAST(d.doc_id AS VARCHAR))", 1, 4)} % 10000
          < floor(r.rate * 10000)
    GROUP BY d.source
"""


def q130_boilerplate_spans(spark, sf_dir):
    """Cross-document BOILERPLATE detection (ExactSubstr-lite, Lee et
    al. 2021 "Deduplicating Training Data Makes Language Models
    Better"): every 5-token window of every document is hashed; windows
    occurring in ≥ 2 DISTINCT documents are boilerplate (headers,
    footers, license blocks), and each document reports its boilerplate
    fraction — the signal that drives span-level (not whole-doc)
    dedup.  Unlike q33/q37 (per-PAIR similarity) this is a GLOBAL
    property: one explode, one (gram → distinct-doc count) aggregate,
    one join back on the gram hash — no pair enumeration anywhere, so
    it scales as the corpus, not corpus².  Rolled up per source to keep
    the answer small."""
    from pyspark.sql.window import Window

    from adhesive_spark.operators.dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    # r12 optimization (guide §2.4: two operations keyed the same way
    # share one exchange): the old shape aggregated doc-frequencies per
    # gram AND re-joined them onto the full occurrence stream — two
    # gram-keyed shuffles of the exploded 5-token STRINGS plus an eager
    # checkpoint of the explode to stop double evaluation. One explicit
    # gram-hash exchange now feeds both: occurrences pre-aggregate to
    # (gram, doc) inside it (hash(gram) clusters (gram, doc) too), and
    # the distinct-doc count per gram is a count(*) window over the SAME
    # partitioning — no join, no second shuffle of the stream, no
    # checkpoint. n_windows = Σ cnt and n_boiler = Σ cnt where the
    # gram's doc count ≥ 2: identical values by construction.
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.col("text"), 5)).alias("gram"),
    )
    occ = (
        grams.repartition("gram")
        .groupBy("gram", "doc_id", "source")
        .agg(F.count("*").alias("cnt"))
    )
    wg = Window.partitionBy("gram")
    per_doc = (
        occ.withColumn("gram_docs", F.count("*").over(wg))
        .groupBy("doc_id", "source")
        .agg(
            F.sum("cnt").alias("n_windows"),
            F.sum(
                F.when(F.col("gram_docs") >= 2, F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("n_boiler"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_boiler").alias("boiler_windows"),
        F.sum("n_windows").alias("total_windows"),
        F.count_if(
            F.col("n_boiler") * 2 > F.col("n_windows")
        ).alias("n_mostly_boilerplate"),
    )


CURATION_QUERIES["q130_boilerplate_spans"] = q130_boilerplate_spans

CURATION_ORACLES["q130_boilerplate_spans"] = f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, source, {_shingles(5)} AS grams FROM t),
    x AS (SELECT doc_id, source, unnest(grams) AS gram FROM g),
    dfc AS (
      SELECT gram, COUNT(DISTINCT doc_id) AS gram_docs
      FROM x GROUP BY gram
    ),
    per_doc AS (
      SELECT x.doc_id, x.source,
             COUNT(*) AS n_windows,
             COUNT(*) FILTER (WHERE d.gram_docs >= 2) AS n_boiler
      FROM x JOIN dfc d USING (gram)
      GROUP BY x.doc_id, x.source
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_boiler) AS BIGINT) AS boiler_windows,
           CAST(SUM(n_windows) AS BIGINT) AS total_windows,
           COUNT(*) FILTER (WHERE n_boiler * 2 > n_windows)
             AS n_mostly_boilerplate
    FROM per_doc GROUP BY source
"""


def q133_paragraph_dedup(spark, sf_dir):
    """Span-granular dedup with REASSEMBLY (RefinedWeb "remove the
    duplicated span, keep the document"): 20-token spans, global
    first-occurrence survivor rule, documents rebuilt from surviving
    spans in order (operators/dedup.span_dedup). Unlike q30 (drops
    whole docs) and q130 (only scores boilerplate), this emits the
    cleaned corpus itself — the op a curation pipeline actually ships.
    Dedup runs over the FULL corpus; output is trimmed to doc_id < 120
    to keep the checked result small."""
    from adhesive_spark.operators.dedup import span_dedup

    docs = load_table(spark, sf_dir, "documents")
    out = span_dedup(docs, "text", "doc_id", span_tokens=20)
    return out.where(F.col("doc_id") < 120).select(
        "doc_id", "n_spans", "n_kept", "clean_text"
    )


CURATION_QUERIES["q133_paragraph_dedup"] = q133_paragraph_dedup

CURATION_ORACLES["q133_paragraph_dedup"] = f"""
    WITH t AS (
      SELECT doc_id,
             {_TOKS} AS toks
      FROM documents
    ),
    spans AS (
      SELECT doc_id, i AS chunk_id,
             array_to_string(list_slice(toks, i * 20 + 1, i * 20 + 20),
                             ' ') AS span
      FROM t, LATERAL (
        SELECT unnest(range(0, ((len(toks) - 1) // 20) + 1)) AS i)
    ),
    ranked AS (
      SELECT doc_id, chunk_id, span,
             ROW_NUMBER() OVER (PARTITION BY span
                                ORDER BY doc_id, chunk_id) AS rn
      FROM spans
    )
    SELECT doc_id,
           COUNT(*) AS n_spans,
           COUNT(*) FILTER (WHERE rn = 1) AS n_kept,
           COALESCE(string_agg(span, ' ' ORDER BY chunk_id)
                      FILTER (WHERE rn = 1), '') AS clean_text
    FROM ranked
    WHERE doc_id < 120
    GROUP BY doc_id
"""


def q134_vocab_growth(spark, sf_dir):
    """Per-source vocabulary statistics (the Heaps-law corpus-health
    panel): total tokens, distinct words, hapax legomena (words seen
    once — the long-tail mass new data keeps adding), the heaviest
    word's count, and an integer type-token ratio. A shrinking TTR or
    hapax share across snapshots signals the corpus is saturating —
    the curve LLM data teams watch when deciding whether more crawl
    buys new information.

    Scale shape: two hash aggregations, both map-side combined —
    (source, word) then source. No windows, no Python, no collects;
    the wide explode never leaves the scan stage before the first
    partial agg."""
    from adhesive_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("word")
        )
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        wc.groupBy("source")
        .agg(
            F.sum("cnt").alias("total_tokens"),
            F.count("*").alias("distinct_words"),
            F.count_if(F.col("cnt") == 1).alias("hapax_words"),
            F.max("cnt").alias("max_word_count"),
        )
        .withColumn(
            "ttr_x10000",
            F.expr("(distinct_words * 10000) div total_tokens"),
        )
    )


CURATION_QUERIES["q134_vocab_growth"] = q134_vocab_growth

CURATION_ORACLES["q134_vocab_growth"] = f"""
    WITH w AS (
      SELECT source, unnest({_TOKS}) AS word
      FROM documents
    ),
    wc AS (
      SELECT source, word, COUNT(*) AS cnt FROM w GROUP BY source, word
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS total_tokens,
           COUNT(*) AS distinct_words,
           COUNT(*) FILTER (WHERE cnt = 1) AS hapax_words,
           MAX(cnt) AS max_word_count,
           (COUNT(*) * 10000) // CAST(SUM(cnt) AS BIGINT) AS ttr_x10000
    FROM wc GROUP BY source
"""


def q136_length_bucketing(spark, sf_dir):
    """Length-bucketed batching efficiency — the padding-waste ledger
    that justifies sorted/bucketed batching in LLM training and
    inference: batches of 32 docs are formed (a) in arrival (doc_id)
    order and (b) in token-length order, and each strategy reports how
    many PAD tokens a max-length-padded batch layout burns
    (Σ_batches n·max_len − Σ len). The length-sorted layout typically
    cuts padding by 5-10×; this query makes that number exact.

    Scale shape: one narrow projection (id, n_tok) feeds two
    row_number windows + per-batch aggs. The global order here keeps
    the result engine-exact for the oracle; at 100 TB batching is done
    per training shard, so the window partitions by shard and never
    funnels the corpus (q76/q87 show that exact pattern)."""
    from pyspark.sql import Window

    from adhesive_spark.operators.text import token_count

    B = 32
    docs = load_table(spark, sf_dir, "documents")
    # materialize the narrow (doc_id, n_tok) projection once: the two
    # batching strategies each re-ran the corpus tokenize kernel
    toks = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    ).transform(checkpoint_corpus)

    def plan(order_cols, label):
        w = Window.orderBy(*order_cols)
        b = toks.withColumn("rn", F.row_number().over(w)).withColumn(
            "batch", F.expr(f"(rn - 1) div {B}")
        )
        per_batch = b.groupBy("batch").agg(
            F.count("*").alias("n"),
            F.max("n_tok").alias("mx"),
            F.sum("n_tok").alias("s"),
        )
        return per_batch.agg(
            F.count("*").alias("n_batches"),
            F.sum("s").alias("total_tokens"),
            F.sum(F.col("n") * F.col("mx") - F.col("s")).alias(
                "padded_tokens"
            ),
        ).select(
            F.lit(label).alias("strategy"),
            "n_batches",
            "total_tokens",
            "padded_tokens",
            F.expr(
                "(padded_tokens * 10000) div (total_tokens + padded_tokens)"
            ).alias("waste_x10000"),
        )

    naive = plan([F.col("doc_id")], "arrival_order")
    bucketed = plan([F.col("n_tok"), F.col("doc_id")], "length_sorted")
    return naive.unionByName(bucketed)


CURATION_QUERIES["q136_length_bucketing"] = q136_length_bucketing

CURATION_ORACLES["q136_length_bucketing"] = f"""
    WITH t AS (
      SELECT doc_id,
             len({_TOKS}) AS n_tok
      FROM documents
    ),
    lay AS (
      SELECT 'arrival_order' AS strategy, n_tok,
             (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // 32 AS batch
      FROM t
      UNION ALL
      SELECT 'length_sorted', n_tok,
             (ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) - 1) // 32
      FROM t
    ),
    pb AS (
      SELECT strategy, batch, COUNT(*) AS n, MAX(n_tok) AS mx,
             CAST(SUM(n_tok) AS BIGINT) AS s
      FROM lay GROUP BY strategy, batch
    )
    SELECT strategy, COUNT(*) AS n_batches,
           CAST(SUM(s) AS BIGINT) AS total_tokens,
           CAST(SUM(n * mx - s) AS BIGINT) AS padded_tokens,
           (CAST(SUM(n * mx - s) AS BIGINT) * 10000)
             // (CAST(SUM(s) AS BIGINT) + CAST(SUM(n * mx - s) AS BIGINT))
             AS waste_x10000
    FROM pb GROUP BY strategy
"""


def q141_inverted_index(spark, sf_dir):
    """Inverted-index build + probe: token → (document frequency,
    total occurrences, first-20 posting list) for three probe tokens —
    the search-side primitive of corpus tooling (contamination lookups,
    targeted exclusion lists, span provenance).  Posting lists are
    sorted doc_id arrays, truncated AFTER the sort so the probe result
    is deterministic.

    Scale shape: explode → one (token, doc) pre-aggregate (map-side
    combined) → one token aggregate; the probe filter pushes into the
    explode side before either shuffle.  At 100 TB the full index is
    written bucketed by token instead of collected — this query is the
    probe path over three postings."""
    from adhesive_spark.operators.text import tokens

    probes = ["table", "spark", "window"]
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).where(F.col("token").isin(probes))
    per_doc = tok.groupBy("token", "doc_id").agg(
        F.count("*").alias("cnt")
    )
    # posting_head is emitted as a comma-joined STRING, not an array:
    # the driver's hash canonicalizer cannot sort list-typed cells
    # (pandas `unhashable type: list`), so every registered query's
    # output must be scalar-typed.  The sort happens on the numeric
    # array BEFORE stringification, so order stays numeric.
    return per_doc.groupBy("token").agg(
        F.count("*").alias("doc_freq"),
        F.sum("cnt").alias("total_occurrences"),
        F.array_join(
            F.transform(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("posting_head"),
    )


CURATION_QUERIES["q141_inverted_index"] = q141_inverted_index

CURATION_ORACLES["q141_inverted_index"] = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token
      FROM documents
    ),
    per_doc AS (
      SELECT token, doc_id, COUNT(*) AS cnt
      FROM tok
      WHERE token IN ('table', 'spark', 'window')
      GROUP BY token, doc_id
    )
    SELECT token, COUNT(*) AS doc_freq,
           CAST(SUM(cnt) AS BIGINT) AS total_occurrences,
           COALESCE(array_to_string(list_sort(list(doc_id))[1:20], ','),
                    '') AS posting_head
    FROM per_doc GROUP BY token
"""


def q142_freq_spectrum(spark, sf_dir):
    """Within-document frequency-of-frequencies spectrum (the
    Good-Turing / burstiness input): how many (document, word) pairs
    have the word occurring exactly k times in that document,
    k = 1..10 plus an 11+ tail bucket.  The shape of this curve is the
    statistical fingerprint curation teams watch for crawl anomalies
    (a boilerplate flood dents the k=1 mass overnight; generation
    loops fatten the tail).  Two keyed aggregations, all integers —
    the first is map-side combined on (doc, word), the second on the
    11-value bucket key."""
    from adhesive_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        wc.select(
            F.when(F.col("cnt") <= 10, F.col("cnt"))
            .otherwise(F.lit(11))
            .alias("k")
        )
        .groupBy("k")
        .agg(F.count("*").alias("n_words"))
    )


CURATION_QUERIES["q142_freq_spectrum"] = q142_freq_spectrum

CURATION_ORACLES["q142_freq_spectrum"] = f"""
    WITH wc AS (
      SELECT doc_id, word, COUNT(*) AS cnt FROM (
        SELECT doc_id, unnest({_TOKS}) AS word
        FROM documents
      ) GROUP BY doc_id, word
    )
    SELECT CASE WHEN cnt <= 10 THEN cnt ELSE 11 END AS k,
           COUNT(*) AS n_words
    FROM wc GROUP BY 1
"""


def q146_rarity_score(spark, sf_dir):
    """Lexical-rarity scoring — the libm-free perplexity proxy: every
    word gets its corpus frequency RANK (1 = most common; ties broken
    by word for engine determinism), and each document scores the mean
    rank of its tokens ×100 (integer div, exact).  Rare-vocabulary docs
    (jargon, other languages, noise) float to the top exactly like a
    high-perplexity screen, with zero ln() — the trick that keeps the
    score bit-identical across engines and hardware.  Rolled up per
    source with the max-scoring doc pinned for auditability.

    Scale shape: one (word) aggregate + rank window over the VOCABULARY
    (not the corpus — 10^5-ish rows through one partition; at 100 TB
    the rank table is built once and broadcast), then a broadcast join
    back onto the exploded tokens and one (doc), one (source)
    aggregate."""
    from pyspark.sql import Window

    from adhesive_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("word")
    )
    # ONE tokenize pass (the grain discipline): the vocabulary count and
    # the rank join-back each re-ran the corpus explode. The
    # (word, doc, source, cnt) grain is materialized once; the corpus
    # word count is its sum (identical by associativity) and the
    # per-doc fold re-weights by cnt (Σ_rows rank ≡ Σ_groups rank·cnt).
    grain = (
        tok.groupBy("word", "doc_id", "source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(checkpoint_corpus)
    )
    vocab = grain.groupBy("word").agg(F.sum("cnt").alias("cnt"))
    ranked = vocab.select(
        "word",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "word"))
        .alias("rank"),
    )
    per_doc = (
        grain.join(F.broadcast(ranked), "word")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("cnt").alias("n_tok"),
            F.sum(F.col("rank") * F.col("cnt")).alias("rank_sum"),
        )
        .select(
            "doc_id",
            "source",
            F.expr("(rank_sum * 100) div n_tok").alias("rarity_x100"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr("(sum(rarity_x100)) div count(*)").alias("mean_rarity_x100"),
        F.max("rarity_x100").alias("max_rarity_x100"),
        # argmax via packed integer key (rarity, doc_id) — DuckDB's
        # arg_max lacks composite keys in this vintage, and the packed
        # max is engine-exact on both sides
        (
            F.max(
                F.col("rarity_x100") * F.lit(100_000_000)
                + F.col("doc_id")
            )
            % F.lit(100_000_000)
        ).alias("most_rare_doc"),
    )


CURATION_QUERIES["q146_rarity_score"] = q146_rarity_score

CURATION_ORACLES["q146_rarity_score"] = f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_TOKS}) AS word
      FROM documents
    ),
    vocab AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
    ranked AS (
      SELECT word,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rank
      FROM vocab
    ),
    per_doc AS (
      SELECT t.doc_id, t.source,
             (CAST(SUM(r.rank) AS BIGINT) * 100) // COUNT(*) AS rarity_x100
      FROM tok t JOIN ranked r USING (word)
      GROUP BY t.doc_id, t.source
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(rarity_x100) AS BIGINT) // COUNT(*) AS mean_rarity_x100,
           MAX(rarity_x100) AS max_rarity_x100,
           MAX(rarity_x100 * 100000000 + doc_id) % 100000000 AS most_rare_doc
    FROM per_doc GROUP BY source
"""


def q147_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/test split — the evaluation-hygiene op: docs
    are hash-split 90/10 (q67's stable md5 bucket), then any text
    FINGERPRINT with copies on BOTH sides is wholly reassigned to
    train, so no test document has an exact duplicate in the training
    set (the classic benchmark-inflation bug).  Output: per (source,
    final split) doc counts plus how many docs the guard moved —
    the audit number a dataset card publishes.

    Scale shape: one (fingerprint) aggregate to find leaking groups +
    one broadcast-able semi-join back; at 100 TB the leak set is tiny
    (only dup groups that straddle the 90/10 cut), so the repair join
    broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    tagged = docs.select(
        "doc_id",
        "source",
        fingerprint(F.col("text")).alias("fp"),
        F.when(bucket < 90, "train").otherwise("test").alias("split"),
    )
    # ONE fingerprint-keyed exchange (the q130 shape): per-fp train/test
    # counts as window aggregates replace the leak aggregate + broadcast
    # join-back — the fingerprint kernel used to evaluate twice (once
    # under each consumer). leaked ≡ (n_train > 0 AND n_test > 0) over
    # the fp group, exactly the old semi-join membership.
    from pyspark.sql.window import Window

    wfp = Window.partitionBy("fp")
    leaked = (
        F.count_if(F.col("split") == "train").over(wfp) > 0
    ) & (F.count_if(F.col("split") == "test").over(wfp) > 0)
    fixed = tagged.select(
        "source",
        F.when(leaked, "train").otherwise(F.col("split")).alias(
            "final_split"
        ),
        (leaked & (F.col("split") == "test")).alias("moved"),
    )
    return fixed.groupBy("source", "final_split").agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("moved")).alias("n_moved_by_guard"),
    )


CURATION_QUERIES["q147_leakage_safe_split"] = q147_leakage_safe_split

CURATION_ORACLES["q147_leakage_safe_split"] = f"""
    WITH tagged AS (
      SELECT doc_id, source,
             {_FP} AS fp,
             CASE WHEN {_hex_int("md5(CAST(doc_id AS VARCHAR))", 1, 4)} % 100 < 90
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    ),
    leaks AS (
      SELECT fp FROM tagged
      GROUP BY fp
      HAVING COUNT(*) FILTER (WHERE split = 'train') > 0
         AND COUNT(*) FILTER (WHERE split = 'test') > 0
    )
    SELECT source,
           CASE WHEN l.fp IS NOT NULL THEN 'train' ELSE t.split END
             AS final_split,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE l.fp IS NOT NULL AND t.split = 'test')
             AS n_moved_by_guard
    FROM tagged t LEFT JOIN leaks l USING (fp)
    GROUP BY 1, 2
"""


def q148_deletion_propagation(spark, sf_dir):
    """Deletion-propagation sweep (the right-to-be-forgotten / takedown
    op): a deterministic denylist of documents (md5-sampled ~1/16 of
    the corpus — stands in for the legal removal list) is propagated to
    every DERIVED asset — the embeddings table (shared id space) and
    EXACT-DUPLICATE copies of the denylisted texts that live under
    other doc_ids (takedowns bind to content, not ids).  One row per
    asset class with rows-before / rows-removed / rows-after — the
    audit triple a compliance report needs.

    Scale shape: the denylist and its fingerprint closure are tiny →
    both joins broadcast; each table is one anti-join scan, no
    shuffle of the big side."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # ~1/16 of ids, but the md5 filter cannot push down, so each
    # evaluation is a full scan + fingerprint pass; its two broadcast
    # consumers (fp closure, embedding id list) share one evaluation
    deny = docs.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "a"
    ).select("doc_id", fingerprint(F.col("text")).alias("fp")).localCheckpoint(
        eager=True
    )
    deny_fp = deny.select("fp").distinct()
    docs_fp = docs.select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    removed_docs = docs_fp.join(F.broadcast(deny_fp), "fp", "left_semi")
    removed_emb = emb.join(
        F.broadcast(deny.select(F.col("doc_id").alias("vec_id"))),
        "vec_id",
        "left_semi",
    )
    def audit(label, total_df, removed_df):
        t = total_df.agg(F.count("*").alias("rows_before"))
        r = removed_df.agg(F.count("*").alias("rows_removed"))
        return t.join(r).select(
            F.lit(label).alias("asset"),
            "rows_before",
            "rows_removed",
            (F.col("rows_before") - F.col("rows_removed")).alias(
                "rows_after"
            ),
        )
    return audit("documents", docs, removed_docs).unionByName(
        audit("embeddings", emb, removed_emb)
    )


CURATION_QUERIES["q148_deletion_propagation"] = q148_deletion_propagation

CURATION_ORACLES["q148_deletion_propagation"] = f"""
    WITH deny AS (
      SELECT doc_id,
             {_FP} AS fp
      FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'a'
    ),
    docs_fp AS (
      SELECT doc_id,
             {_FP} AS fp
      FROM documents
    ),
    removed_docs AS (
      SELECT doc_id FROM docs_fp
      WHERE fp IN (SELECT fp FROM deny)
    ),
    removed_emb AS (
      SELECT vec_id FROM embeddings
      WHERE vec_id IN (SELECT doc_id FROM deny)
    )
    SELECT 'documents' AS asset,
           (SELECT COUNT(*) FROM documents) AS rows_before,
           (SELECT COUNT(*) FROM removed_docs) AS rows_removed,
           (SELECT COUNT(*) FROM documents)
             - (SELECT COUNT(*) FROM removed_docs) AS rows_after
    UNION ALL
    SELECT 'embeddings',
           (SELECT COUNT(*) FROM embeddings),
           (SELECT COUNT(*) FROM removed_emb),
           (SELECT COUNT(*) FROM embeddings)
             - (SELECT COUNT(*) FROM removed_emb)
"""


def q149_inverted_index_persisted(spark, sf_dir):
    """Persisted inverted index build + bucket-pruned probe
    (operators/text.persist_inverted_index): q141's amortized path made
    concrete — the index is written ONCE bucketed by token, and the
    probe's IN filter reads only the probed buckets
    (SelectedBucketsCount in the scan, plan-asserted) with zero
    shuffle on the index side.  Same three probe terms and output
    contract as q141, so the oracle is the identical full-scan SQL."""
    from adhesive_spark.operators.text import (
        persist_inverted_index,
        probe_inverted_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    persist_inverted_index(docs, "q149_inv_idx", n_buckets=16)
    probed = probe_inverted_index(
        spark, "q149_inv_idx", ["table", "spark", "window"]
    )
    # The operator keeps the array form (callers compose on it); the
    # REGISTERED query flattens to a comma-joined string because the
    # driver's hash canonicalizer cannot sort list-typed cells.
    return probed.withColumn(
        "posting_head",
        F.array_join(
            F.transform(F.col("posting_head"), lambda x: x.cast("string")),
            ",",
        ),
    )


CURATION_QUERIES["q149_inverted_index_persisted"] = (
    q149_inverted_index_persisted
)

CURATION_ORACLES["q149_inverted_index_persisted"] = CURATION_ORACLES[
    "q141_inverted_index"
]


def q150_drift_monitor(spark, sf_dir):
    """Corpus drift monitor — the between-snapshot alarm: per source,
    the L1 distance between the word distributions of two interleaved
    snapshot halves (doc_id parity stands in for crawl N vs crawl N+1),
    in integer ppm (each frequency floored to parts-per-million before
    the difference, so the score is engine-exact with no float sums).
    A healthy stable source scores low; a source whose pipeline changed
    (new boilerplate, encoding bug, topic shift) jumps — this is the
    number a crawl-ops dashboard alerts on.

    Scale shape: one (source, word, parity) aggregate (map-side
    combined), a pivot-by-parity via conditional sums in a second
    (source, word) agg, then the per-source rollup; no windows, no
    joins, no Python."""
    from adhesive_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        (F.col("doc_id") % 2 == 0).alias("even"),
        F.explode(tokens(F.col("text"))).alias("word"),
    )
    # materialize the collapsed (source, word, n_even, n_odd) table
    # once: its two consumers (per-source totals, the ppm difference
    # pass) each re-ran the full tokenize+explode — the corpus-sized
    # kernel — where the word-count table is vocabulary-bounded
    wc = (
        tok.groupBy("source", "word")
        .agg(
            F.count_if(F.col("even")).alias("n_even"),
            F.count_if(~F.col("even")).alias("n_odd"),
        )
        .transform(checkpoint_corpus)
    )
    per_source_tot = wc.groupBy("source").agg(
        F.sum("n_even").alias("t_even"), F.sum("n_odd").alias("t_odd")
    )
    joined = wc.join(F.broadcast(per_source_tot), "source").select(
        "source",
        "word",
        # greatest(t,1): a snapshot half can be empty for a small
        # source; the guard is identical in the oracle so the floored
        # ppm stays engine-exact
        F.abs(
            F.expr("(n_even * 1000000) div greatest(t_even, 1)")
            - F.expr("(n_odd * 1000000) div greatest(t_odd, 1)")
        ).alias("d_ppm"),
    )
    return joined.groupBy("source").agg(
        F.count("*").alias("n_words"),
        F.sum("d_ppm").alias("drift_ppm"),
        F.max("d_ppm").alias("max_word_drift_ppm"),
    )


CURATION_QUERIES["q150_drift_monitor"] = q150_drift_monitor

CURATION_ORACLES["q150_drift_monitor"] = f"""
    WITH tok AS (
      SELECT source, doc_id % 2 = 0 AS even, unnest({_TOKS}) AS word
      FROM documents
    ),
    wc AS (
      SELECT source, word,
             COUNT(*) FILTER (WHERE even) AS n_even,
             COUNT(*) FILTER (WHERE NOT even) AS n_odd
      FROM tok GROUP BY source, word
    ),
    tot AS (
      SELECT source, CAST(SUM(n_even) AS BIGINT) AS t_even,
             CAST(SUM(n_odd) AS BIGINT) AS t_odd
      FROM wc GROUP BY source
    )
    SELECT w.source, COUNT(*) AS n_words,
           CAST(SUM(ABS((n_even * 1000000) // GREATEST(t_even, 1)
                        - (n_odd * 1000000) // GREATEST(t_odd, 1))) AS BIGINT)
             AS drift_ppm,
           MAX(ABS((n_even * 1000000) // GREATEST(t_even, 1)
                   - (n_odd * 1000000) // GREATEST(t_odd, 1))) AS max_word_drift_ppm
    FROM wc w JOIN tot t USING (source)
    GROUP BY w.source
"""


def q156_oov_rate(spark, sf_dir):
    """Tokenizer-coverage check: out-of-vocabulary rate per source
    against a fixed vocabulary (here: the corpus's top-30 words by
    global count, rank ties broken by word — standing in for the
    tokenizer's vocab file).  The number a data team checks before
    pointing a NEW source at an EXISTING tokenizer: a high OOV ppm
    means byte-fallback blowup and longer sequences at train time.

    Scale shape: the vocabulary is tiny by construction → broadcast
    left-anti-style membership via a broadcast join; one (source)
    aggregate after; the only corpus-wide shuffle is the word count
    that builds the vocab (in production the vocab ships as a file —
    zero shuffles)."""
    from pyspark.sql import Window

    from adhesive_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("word")
    )
    # ONE tokenize pass (the grain discipline): the vocab count and the
    # membership join-back each re-ran the corpus explode. The
    # (source, word, cnt) grain is materialized once; the global word
    # count is its sum and the per-source totals re-weight by cnt.
    grain = (
        tok.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(checkpoint_corpus)
    )
    vocab = (
        grain.groupBy("word")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), "word")
            ),
        )
        .where(F.col("rank") <= 30)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    return (
        grain.join(F.broadcast(vocab), "word", "left")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("total_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("oov_tokens"),
        )
        .withColumn(
            "oov_ppm",
            F.expr("(oov_tokens * 1000000) div total_tokens"),
        )
    )


CURATION_QUERIES["q156_oov_rate"] = q156_oov_rate

CURATION_ORACLES["q156_oov_rate"] = f"""
    WITH tok AS (
      SELECT source, unnest({_TOKS}) AS word
      FROM documents
    ),
    vocab AS (
      SELECT word FROM (
        SELECT word, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) AS r
        FROM tok GROUP BY word
      ) WHERE r <= 30
    )
    SELECT t.source,
           COUNT(*) AS total_tokens,
           COUNT(*) FILTER (WHERE v.word IS NULL) AS oov_tokens,
           (COUNT(*) FILTER (WHERE v.word IS NULL) * 1000000) // COUNT(*)
             AS oov_ppm
    FROM tok t LEFT JOIN vocab v USING (word)
    GROUP BY t.source
"""


def q160_dup_cluster_sizes(spark, sf_dir):
    """Duplicate-cluster size distribution: how many exact-duplicate
    clusters exist of each size — THE statistic that prices every
    downstream dedup pass (q30's survivor count, the LSH verify
    join's per-cluster quadratic, STRESS.md's cluster² cost model all
    derive from this histogram).  A crawl where the tail of this
    histogram grows is about to make near-dup verification expensive —
    watch it per snapshot.  Two keyed aggregates on narrow rows
    (fingerprint → cluster size → histogram)."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = docs.groupBy(
        fingerprint(F.col("text")).alias("fp")
    ).agg(F.count("*").alias("k"))
    return clusters.groupBy("k").agg(
        F.count("*").alias("n_clusters"),
        F.sum("k").alias("n_docs"),
    )


CURATION_QUERIES["q160_dup_cluster_sizes"] = q160_dup_cluster_sizes

CURATION_ORACLES["q160_dup_cluster_sizes"] = f"""
    WITH c AS (
      SELECT {_FP} AS fp,
             COUNT(*) AS k
      FROM documents GROUP BY fp
    )
    SELECT k, COUNT(*) AS n_clusters, CAST(SUM(k) AS BIGINT) AS n_docs
    FROM c GROUP BY k
"""


def q161_langid_confusion(spark, sf_dir):
    """Language-ID CONFUSION MATRIX — the classifier eval for the
    heuristic lang_id against the corpus's ground-truth ``lang``
    column: per (truth, prediction) cell counts plus the per-truth
    recall in ppm.  This is the number that justifies (or indicts) a
    fast marker-based LID before paying for a model-based one — and
    the 'zh' row shows the honest failure mode (no zh markers → 'und').
    One projection + one tiny keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select("lang", lang_id(F.col("text")).alias("lang_pred"))
    cells = pred.groupBy("lang", "lang_pred").agg(
        F.count("*").alias("n")
    )
    from pyspark.sql import Window

    tot = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "lang_pred",
        "n",
        F.expr("(n * 1000000)").alias("__num"),
        F.sum("n").over(tot).alias("__den"),
    ).select(
        "lang",
        "lang_pred",
        "n",
        F.expr("__num div __den").alias("share_ppm"),
    )


CURATION_QUERIES["q161_langid_confusion"] = q161_langid_confusion

CURATION_ORACLES["q161_langid_confusion"] = f"""
    WITH t AS (
      SELECT lang, {_TOKS} AS toks, text FROM documents
    ),
    p AS (SELECT lang, {_lang_sql()} AS lang_pred FROM t),
    cells AS (
      SELECT lang, lang_pred, COUNT(*) AS n
      FROM p GROUP BY lang, lang_pred
    )
    SELECT lang, lang_pred, n,
           (n * 1000000) // CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT)
             AS share_ppm
    FROM cells
"""


def q162_cdc_chunking(spark, sf_dir):
    """Content-defined chunking (CDC): chunk boundaries fall where the
    word's portable hash ≡ 0 (mod 16) — boundaries are a function of
    CONTENT, not position, so an insertion reshuffles ONE chunk instead
    of every downstream fixed-size window (the property that makes CDC
    the storage/transfer dedup standard, and the variable-size
    complement of q85's fixed windows).  Expected chunk length = the
    modulus (16 words).  Per source: docs, chunks, integer mean/max
    chunk length — the layout stats a CDC store capacity-plans with.

    Scale shape: posexplode → per-doc prefix-sum window (one shuffle on
    doc_id) → two keyed aggregates; boundary flags are pure JVM hash
    expressions."""
    from pyspark.sql import Window

    from adhesive_spark.operators.dedup import portable_hash32
    from adhesive_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.posexplode(tokens(F.col("text"))).alias("pos", "word"),
    ).withColumn(
        "is_boundary",
        (portable_hash32(F.col("word")) % 16 == 0).cast("int"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunks = tok.withColumn(
        "chunk_id", F.coalesce(F.sum("is_boundary").over(w), F.lit(0))
    )
    per_chunk = chunks.groupBy("doc_id", "source", "chunk_id").agg(
        F.count("*").alias("chunk_len")
    )
    return per_chunk.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_chunks"),
        F.expr("(sum(chunk_len) * 100) div count(*)").alias(
            "mean_chunk_len_x100"
        ),
        F.max("chunk_len").alias("max_chunk_len"),
    )


CURATION_QUERIES["q162_cdc_chunking"] = q162_cdc_chunking

CURATION_ORACLES["q162_cdc_chunking"] = f"""
    WITH t AS (
      SELECT doc_id, source,
             {_TOKS} AS toks
      FROM documents
    ),
    tok AS (
      SELECT doc_id, source, i - 1 AS pos,
             CASE WHEN {_h32("md5(toks[i])")}
                       % 16 = 0
                  THEN 1 ELSE 0 END AS is_boundary
      FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)
    ),
    chunks AS (
      SELECT doc_id, source,
             COALESCE(SUM(is_boundary) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_id
      FROM tok
    ),
    per_chunk AS (
      SELECT doc_id, source, chunk_id, COUNT(*) AS chunk_len
      FROM chunks GROUP BY doc_id, source, chunk_id
    )
    SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_chunks,
           (CAST(SUM(chunk_len) AS BIGINT) * 100) // COUNT(*)
             AS mean_chunk_len_x100,
           MAX(chunk_len) AS max_chunk_len
    FROM per_chunk GROUP BY source
"""


def q164_quality_dup_deciles(spark, sf_dir):
    """Does the quality score PREDICT duplication?  Docs are cut into
    quality deciles (NTILE over the engine-exact scaled score, ties
    broken by doc_id) and each decile reports its exact-duplicate rate
    — the cross-signal audit that tells a curation team whether one
    cheap score can stand in for an expensive dedup pass at triage
    time (it usually can for the bottom decile, never for the top).
    Integer-exact: quality is the q73-style scaled long, dup membership
    is a fingerprint-cluster size test, rates in ppm."""
    from pyspark.sql import Window

    from adhesive_spark.operators.text import quality_score, scaled_long

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        scaled_long(quality_score(F.col("text")), 4).alias("q_s"),
        fingerprint(F.col("text")).alias("fp"),
    )
    # ONE fingerprint-keyed exchange: the cluster size is a count window
    # over the fp group — the old size aggregate + join-back evaluated
    # the quality+fingerprint kernel twice and shuffled scored twice
    flagged = scored.select(
        "doc_id",
        "q_s",
        (
            F.count(F.lit(1)).over(Window.partitionBy("fp")) > 1
        ).alias("is_dup"),
    )
    decile = F.ntile(10).over(Window.orderBy("q_s", "doc_id"))
    return (
        flagged.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(F.col("is_dup")).alias("n_dups"),
            F.min("q_s").alias("q_min"),
            F.max("q_s").alias("q_max"),
        )
        .withColumn(
            "dup_ppm", F.expr("(n_dups * 1000000) div n_docs")
        )
    )


CURATION_QUERIES["q164_quality_dup_deciles"] = q164_quality_dup_deciles

CURATION_ORACLES["q164_quality_dup_deciles"] = f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    ),
    s AS (
      SELECT doc_id,
             CAST(ROUND(({_quality_sql()}) * 10000, 0) AS BIGINT) AS q_s,
             {_FP} AS fp
      FROM t
    ),
    k AS (SELECT fp, COUNT(*) AS k FROM s GROUP BY fp),
    f AS (
      SELECT s.doc_id, s.q_s, k.k > 1 AS is_dup,
             NTILE(10) OVER (ORDER BY s.q_s, s.doc_id) AS decile
      FROM s JOIN k USING (fp)
    )
    SELECT decile, COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE is_dup) AS n_dups,
           MIN(q_s) AS q_min, MAX(q_s) AS q_max,
           (COUNT(*) FILTER (WHERE is_dup) * 1000000) // COUNT(*)
             AS dup_ppm
    FROM f GROUP BY decile
"""


def q165_span_savings(spark, sf_dir):
    """Span-dedup savings ledger: per source, how much of the corpus
    the RefinedWeb span pass (q133's operator) actually removes —
    spans before/after, fully-emptied docs, and the saved fraction in
    ppm.  This is the number that decides whether the span pass earns
    its two shuffles in a given pipeline (a corpus with near-zero
    savings skips it; a crawl with heavy boilerplate pays for itself
    immediately)."""
    from adhesive_spark.operators.dedup import span_dedup

    docs = load_table(spark, sf_dir, "documents")
    out = span_dedup(
        docs, "text", "doc_id", span_tokens=20, carry_cols=("source",)
    )
    return out.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_spans").alias("spans_before"),
        F.sum("n_kept").alias("spans_after"),
        F.count_if(F.col("n_kept") == 0).alias("n_emptied_docs"),
        F.expr(
            "((sum(n_spans) - sum(n_kept)) * 1000000) div sum(n_spans)"
        ).alias("saved_ppm"),
    )


CURATION_QUERIES["q165_span_savings"] = q165_span_savings

CURATION_ORACLES["q165_span_savings"] = f"""
    WITH t AS (
      SELECT doc_id, source,
             {_TOKS} AS toks
      FROM documents
    ),
    spans AS (
      SELECT doc_id, source, i AS chunk_id,
             array_to_string(list_slice(toks, i * 20 + 1, i * 20 + 20),
                             ' ') AS span
      FROM t, LATERAL (
        SELECT unnest(range(0, ((len(toks) - 1) // 20) + 1)) AS i)
    ),
    ranked AS (
      SELECT doc_id, source, span,
             ROW_NUMBER() OVER (PARTITION BY span
                                ORDER BY doc_id, chunk_id) AS rn
      FROM spans
    ),
    per_doc AS (
      SELECT doc_id, source, COUNT(*) AS n_spans,
             COUNT(*) FILTER (WHERE rn = 1) AS n_kept
      FROM ranked GROUP BY doc_id, source
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_spans) AS BIGINT) AS spans_before,
           CAST(SUM(n_kept) AS BIGINT) AS spans_after,
           COUNT(*) FILTER (WHERE n_kept = 0) AS n_emptied_docs,
           ((CAST(SUM(n_spans) AS BIGINT) - CAST(SUM(n_kept) AS BIGINT))
              * 1000000) // CAST(SUM(n_spans) AS BIGINT) AS saved_ppm
    FROM per_doc GROUP BY source
"""


def q167_boilerplate_position(spark, sf_dir):
    """WHERE does the boilerplate live?  q130 counts cross-document
    repeated 5-token windows; this query buckets each window by its
    POSITION in the document (leading / middle / trailing third) and
    reports the repetition rate per bucket — the evidence that decides
    between header-trimming, footer-trimming, and whole-doc dedup for
    a given crawl.  Window ordinals come from an indexed gram build
    (struct(idx, gram) → posexplode keeps the slot), the position
    bucket is integer ((idx·3) div n_windows), and rates are ppm.
    Unlike q130, windows are NOT de-duplicated within a document —
    position semantics count every slot (and DuckDB's list_distinct
    gives no order guarantee to mirror anyway)."""
    from adhesive_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")

    def _windows(toks):
        # each element carries its slot AND the per-doc window count, so
        # downstream only ever references the explode output (no second
        # size()/count aggregate that would re-run the kernel)
        k = F.size(toks) - 4
        return F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.struct(
                    i.alias("idx"),
                    k.alias("n"),
                    F.concat_ws(" ", F.slice(toks, i + 1, 5)).alias("gram"),
                ),
            ),
        ).otherwise(
            F.array(
                F.struct(
                    F.lit(0).alias("idx"),
                    F.lit(1).alias("n"),
                    F.concat_ws(" ", toks).alias("gram"),
                )
            )
        )

    # position bucket resolved BEFORE the explode stream is materialized
    # once for its two consumers (doc-frequency + the final bucket
    # rollup): the tokenize+window kernel runs exactly once (was 3x,
    # plus a per-doc count aggregate now folded into the array build)
    grams = (
        docs.select(
            "doc_id",
            F.explode(
                F.element_at(
                    F.transform(F.array(tokens(F.col("text"))), _windows), 1
                )
            ).alias("w"),
        )
        .select(
            "doc_id",
            F.col("w.gram").alias("gram"),
            F.expr("(w.idx * 3) div w.n").alias("pos_bucket"),
        )
        .transform(checkpoint_corpus)
    )
    df_counts = grams.groupBy("gram").agg(
        F.countDistinct("doc_id").alias("gram_docs")
    )
    placed = grams.join(df_counts, "gram").select(
        "pos_bucket",
        (F.col("gram_docs") >= 2).alias("is_boiler"),
    )
    return placed.groupBy("pos_bucket").agg(
        F.count("*").alias("n_windows"),
        F.count_if(F.col("is_boiler")).alias("n_boiler"),
        F.expr(
            "(count_if(is_boiler) * 1000000) div count(*)"
        ).alias("boiler_ppm"),
    )


CURATION_QUERIES["q167_boilerplate_position"] = q167_boilerplate_position

CURATION_ORACLES["q167_boilerplate_position"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, {_shingles(5, distinct=False)} AS grams FROM t),
    x AS (
      SELECT doc_id, i - 1 AS idx, grams[i] AS gram,
             len(grams) AS n_windows
      FROM g, LATERAL (SELECT unnest(range(1, len(grams) + 1)) AS i)
    ),
    dfc AS (
      SELECT gram, COUNT(DISTINCT doc_id) AS gram_docs FROM x GROUP BY gram
    ),
    placed AS (
      SELECT (x.idx * 3) // x.n_windows AS pos_bucket,
             d.gram_docs >= 2 AS is_boiler
      FROM x JOIN dfc d USING (gram)
    )
    SELECT pos_bucket, COUNT(*) AS n_windows,
           COUNT(*) FILTER (WHERE is_boiler) AS n_boiler,
           (COUNT(*) FILTER (WHERE is_boiler) * 1000000) // COUNT(*)
             AS boiler_ppm
    FROM placed GROUP BY pos_bucket
"""


def q178_syndication(spark, sf_dir):
    """Cross-source syndication detection: exact-duplicate texts that
    appear under TWO OR MORE distinct sources (wire stories, mirrored
    pages, scraped re-posts) — the provenance signal that decides which
    source "owns" a duplicate during per-source capping, and the one
    dedup statistic source-level mixture math silently depends on.
    Per source: docs whose fingerprint also lives elsewhere, in ppm.
    Narrow (fp, source) rows through two keyed aggregates + one
    broadcast-able semi-join."""
    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select(
        "source", fingerprint(F.col("text")).alias("fp")
    )
    # ONE fingerprint-keyed exchange: the distinct-source count is a
    # collect_set window over the fp group — the old distinct+aggregate
    # + broadcast join-back evaluated the fingerprint kernel twice.
    # syn ≡ (≥2 distinct sources share the fp), the old semi-join
    # membership; count_if counts only TRUE rows either way.
    from pyspark.sql.window import Window

    flagged = fps.withColumn(
        "syn",
        F.size(
            F.collect_set("source").over(Window.partitionBy("fp"))
        )
        >= 2,
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("syn")).alias("n_syndicated"),
        F.expr("(count_if(syn) * 1000000) div count(*)").alias(
            "syndication_ppm"
        ),
    )


CURATION_QUERIES["q178_syndication"] = q178_syndication

CURATION_ORACLES["q178_syndication"] = f"""
    WITH fps AS (
      SELECT source,
             {_FP} AS fp
      FROM documents
    ),
    multi AS (
      SELECT fp FROM (SELECT DISTINCT fp, source FROM fps)
      GROUP BY fp HAVING COUNT(DISTINCT source) >= 2
    )
    SELECT f.source, COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE m.fp IS NOT NULL) AS n_syndicated,
           (COUNT(*) FILTER (WHERE m.fp IS NOT NULL) * 1000000)
             // COUNT(*) AS syndication_ppm
    FROM fps f LEFT JOIN multi m USING (fp)
    GROUP BY f.source
"""


def q179_k_anonymity(spark, sf_dir):
    """k-anonymity release screen over the corpus: equivalence classes
    of the quasi-identifier combination (lang, source, 500-char length
    bucket) with class sizes and the at-risk flag for classes below
    k=10 (:func:`adhesive_spark.operators.curation.k_anonymity_screen`).
    A row in a sub-k class is re-identifiable by joining the quasi
    identifiers against an external dataset — the release gate is
    "no at_risk classes", and the generalization fix (coarser buckets)
    plugs straight into the same screen. ONE hash aggregate on the
    quasi key."""
    from adhesive_spark.operators.curation import k_anonymity_screen

    docs = load_table(spark, sf_dir, "documents")
    return k_anonymity_screen(
        docs.select(
            "lang",
            "source",
            (F.col("n_chars") / F.lit(500))
            .cast("long")
            .alias("len_bucket"),
        ),
        ["lang", "source", "len_bucket"],
        k=10,
    )


CURATION_QUERIES["q179_k_anonymity"] = q179_k_anonymity

CURATION_ORACLES["q179_k_anonymity"] = """
    SELECT lang, source, n_chars // 500 AS len_bucket,
           COUNT(*) AS class_n,
           COUNT(*) < 10 AS at_risk
    FROM documents
    GROUP BY 1, 2, 3
"""


def q181_bigram_lm(spark, sf_dir):
    """Per-source bigram language-model counts: the top-20 bigrams per
    source with their conditional probability P(w2 | w1) in ppm — the
    count-collection pass of every n-gram LM build (and the feature
    behind contamination/memorization screens). Bigrams materialize
    INSIDE the row via one higher-order transform over the token array
    (no positional self-join), so the only shuffles are the count
    aggregate and the per-source top-k window — at 100 TB the bigram
    aggregate is the cost, and it is the minimal one."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = bigrams(tokens(F.col("text")))
    b = docs.select("source", F.explode(pairs).alias("bg")).select(
        "source", "bg.w1", "bg.w2"
    )
    counts = b.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c_bigram")
    )
    from pyspark.sql.window import Window

    w1_tot = Window.partitionBy("source", "w1")
    rank_w = Window.partitionBy("source").orderBy(
        F.col("c_bigram").desc(), "w1", "w2"
    )
    return (
        counts.withColumn("c_w1", F.sum("c_bigram").over(w1_tot))
        .withColumn("rn", F.row_number().over(rank_w))
        .where(F.col("rn") <= 20)
        .select(
            "source",
            "w1",
            "w2",
            "c_bigram",
            "c_w1",
            F.expr("(c_bigram * 1000000) div c_w1").alias("p_ppm"),
        )
    )


CURATION_QUERIES["q181_bigram_lm"] = q181_bigram_lm

CURATION_ORACLES["q181_bigram_lm"] = f"""
    WITH t AS (
      SELECT source,
             {_TOKS} AS l
      FROM documents
    ),
    b AS (
      SELECT source, l[i] AS w1, l[i + 1] AS w2
      FROM t, UNNEST(generate_series(1, len(l) - 1)) AS u(i)
    ),
    counts AS (
      SELECT source, w1, w2, COUNT(*) AS c_bigram
      FROM b GROUP BY 1, 2, 3
    )
    SELECT source, w1, w2, c_bigram,
           CAST(SUM(c_bigram) OVER (PARTITION BY source, w1) AS BIGINT)
             AS c_w1,
           CAST((c_bigram * 1000000)
             // CAST(SUM(c_bigram) OVER (PARTITION BY source, w1)
                     AS BIGINT) AS BIGINT) AS p_ppm
    FROM counts
    QUALIFY ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY c_bigram DESC, w1, w2) <= 20
"""


def q186_bigram_familiarity(spark, sf_dir):
    """Per-document FAMILIARITY score against the corpus bigram
    distribution (the q181 counts turned into a document signal): mean
    corpus frequency of the document's bigrams, ×1000 integer-scaled —
    boilerplate and template text scores high (its bigrams are
    everywhere), novel prose scores low. The cheap novelty/memorization
    proxy that needs no model: used to route high-familiarity docs into
    dedup review and low-familiarity docs into quality review.
    Shuffles: the corpus bigram count aggregate, the count-back join on
    the bigram key, and the per-doc fold — all narrow (bigram, count)
    rows. Corpus counts include the doc's own occurrences (n≥1 always;
    the score is a rank signal, not a probability)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = bigrams(tokens(F.col("text")))
    b = docs.select("doc_id", F.explode(pairs).alias("bg")).select(
        "doc_id", "bg.w1", "bg.w2"
    )
    # ONE bigram-kernel evaluation (the q130/q280 single-exchange
    # shape): the corpus-count aggregate and the count-back join each
    # re-ran the tokenize+bigram explode. Occurrences pre-aggregate to
    # the (w1, w2, doc_id, cnt) grain inside one bigram-keyed exchange
    # (hash(w1, w2) clusters every (w1, w2, doc) group); the corpus
    # frequency is a window sum over the same partitioning, and the
    # per-doc fold re-weights by cnt — identical integers: Σ_rows c =
    # Σ_groups c·cnt and N = Σ_groups cnt. w1/w2 are never null
    # (bigrams of split() tokens), so window-vs-inner-join membership
    # cannot differ.
    occ = (
        b.repartition("w1", "w2")
        .groupBy("w1", "w2", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "c", F.sum("cnt").over(Window.partitionBy("w1", "w2"))
        )
    )
    return occ.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        F.expr("(sum(c * cnt) * 1000) div sum(cnt)").alias(
            "familiarity_m"
        ),
    )


CURATION_QUERIES["q186_bigram_familiarity"] = q186_bigram_familiarity

CURATION_ORACLES["q186_bigram_familiarity"] = f"""
    WITH t AS (
      SELECT doc_id,
             {_TOKS} AS l
      FROM documents
    ),
    b AS (
      SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
      FROM t, UNNEST(generate_series(1, len(l) - 1)) AS u(i)
    ),
    corpus AS (
      SELECT w1, w2, COUNT(*) AS c FROM b GROUP BY 1, 2
    )
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           CAST((SUM(c) * 1000) // CAST(COUNT(*) AS BIGINT) AS BIGINT)
             AS familiarity_m
    FROM b JOIN corpus USING (w1, w2)
    GROUP BY b.doc_id
"""


def q190_bpe_merge_step(spark, sf_dir):
    """Tokenizer-training primitive: ONE BPE merge iteration's
    statistics (Sennrich et al., public algorithm) — corpus word
    frequencies → adjacent character-pair counts weighted by word
    frequency, with the end-of-word marker, ranked: row 1 is exactly
    the first merge a BPE trainer would perform on this corpus, rows
    2..20 the runners-up. The expensive part of tokenizer training IS
    this count (the merge loop re-runs it); expressing it as
    word-distinct pair explosion means the heavy text scan happens
    once, then each row is a (short word, count) pair — the 100 TB
    shape: distinct-word agg (Zipf-bounded output), in-row char-pair
    transform, pair-count agg.

    Symbols: single characters, '_' as the end-of-word marker (appended
    pair (last_char, '_') included — merge candidates at word ends are
    where suffixes come from)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .where(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    marked = words.select(
        F.concat(F.col("word"), F.lit("_")).alias("w"), "freq"
    )
    pairs = marked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.concat(
                    F.col("w").substr(i, F.lit(1)),
                    F.lit("+"),
                    F.col("w").substr(i + F.lit(1), F.lit(1)),
                ),
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(20)
    )


CURATION_QUERIES["q190_bpe_merge_step"] = q190_bpe_merge_step

CURATION_ORACLES["q190_bpe_merge_step"] = f"""
    WITH words AS (
      SELECT unnest({_TOKS}) AS word
      FROM documents
    ),
    freqs AS (
      SELECT word || '_' AS w, COUNT(*) AS freq
      FROM words WHERE length(word) >= 1
      GROUP BY 1
    ),
    pairs AS (
      SELECT w[i] || '+' || w[i + 1] AS pair, freq
      FROM freqs, UNNEST(generate_series(1, length(w) - 1)) AS u(i)
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 20
"""


def q193_masked_export(spark, sf_dir):
    """Governance masking policy applied at export
    (:func:`adhesive_spark.operators.curation.apply_masking_policy`):
    customer keys pseudonymized with the portable md5-prefix hash
    (referentially stable — masked joins still line up), names partial-
    masked to first+last character, balances generalized to 1000-wide
    buckets (the k-anonymity fix as a mask), market segment passed
    through. A pure projection — zero shuffles, the masked export costs
    exactly the scan. Companion to q56 (PII redaction inside text) and
    q179 (release screen): the three governance stages of a corpus
    release."""
    from adhesive_spark.operators.curation import apply_masking_policy

    customer = load_table(spark, sf_dir, "customer")
    return apply_masking_policy(
        customer.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment"),
        {
            "c_custkey": "hash",
            "c_name": "partial",
            "c_acctbal": ("bucket", 1000),
        },
    )


CURATION_QUERIES["q193_masked_export"] = q193_masked_export

CURATION_ORACLES["q193_masked_export"] = """
    SELECT substring(md5(CAST(c_custkey AS VARCHAR)), 1, 8) AS c_custkey,
           CASE WHEN length(c_name) <= 2 THEN '**'
                ELSE substring(c_name, 1, 1)
                     || repeat('*', length(c_name) - 2)
                     || substring(c_name, length(c_name), 1)
           END AS c_name,
           CAST(FLOOR(c_acctbal / 1000) * 1000 AS BIGINT) AS c_acctbal,
           c_mktsegment
    FROM customer
"""


def q196_feature_hashing(spark, sf_dir):
    """Hashing-trick featurization (public Weinberger et al. scheme):
    tokens hash into a fixed 256-bucket feature space — the
    vocabulary-free featurizer for linear models / dedup sketches whose
    whole point at 100 TB is that NO vocabulary shuffle or dictionary
    broadcast exists; the bucket id is pure per-row math (portable
    md5-prefix, the engine-agnostic house hash). Output: per-document
    sparse feature vector rows (doc, bucket, count) for the first 50
    docs — projection + explode + one keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("long")
        % 256
    )
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


CURATION_QUERIES["q196_feature_hashing"] = q196_feature_hashing

CURATION_ORACLES["q196_feature_hashing"] = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS tok
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           {_hex_int("md5(tok)", 1, 4)} % 256
             AS bucket,
           COUNT(*) AS cnt
    FROM tok GROUP BY 1, 2
"""


def q199_source_copy_matrix(spark, sf_dir):
    """DIRECTED cross-source copy matrix — q178's syndication detection
    resolved into who-copies-whom: texts sharing a 20-token HEAD
    fingerprint (wire-story lede; light tail edits don't break the
    match, full-body fingerprints would — this corpus has near-dups but
    no byte-identical cross-source pairs) group into a syndication
    cluster; the ORIGIN is the source of the lowest doc_id
    (ingest-order proxy; swap in a crawl timestamp in production) and
    each other source holding the text is a COPIER. Output
    (origin_source, copying_source, n_texts) — the provenance edge list
    that per-source capping and licensing review rank sources by.
    Narrow (fp, source) rows through one min_by aggregate + one
    equi-join."""
    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 20))
        ).alias("fp"),
    )
    # ONE head-fingerprint pass: the origin argmin and the holder set
    # each re-ran the md5-of-head kernel. The (fp, source, min doc_id)
    # grain is materialized once; the global argmin is the argmin over
    # per-source minima (doc_id is unique, so minima are distinct) and
    # the holder set is the grain's key pairs.
    grain = (
        fps.groupBy("fp", "source")
        .agg(F.min("doc_id").alias("min_id"))
        .transform(checkpoint_corpus)
    )
    origin = grain.groupBy("fp").agg(
        F.min_by("source", "min_id").alias("origin_source")
    )
    holders = grain.select("fp", "source")
    return (
        holders.join(origin, "fp")
        .where(F.col("source") != F.col("origin_source"))
        .groupBy("origin_source", F.col("source").alias("copying_source"))
        .agg(F.count_distinct("fp").alias("n_texts"))
    )


CURATION_QUERIES["q199_source_copy_matrix"] = q199_source_copy_matrix

CURATION_ORACLES["q199_source_copy_matrix"] = f"""
    WITH fps AS (
      SELECT doc_id, source,
             md5(array_to_string(({_TOKS})[1:20], ' ')) AS fp
      FROM documents
    ),
    origin AS (
      SELECT fp, arg_min(source, doc_id) AS origin_source
      FROM fps GROUP BY fp
    ),
    holders AS (SELECT DISTINCT fp, source FROM fps)
    SELECT o.origin_source, h.source AS copying_source,
           COUNT(DISTINCT h.fp) AS n_texts
    FROM holders h JOIN origin o USING (fp)
    WHERE h.source <> o.origin_source
    GROUP BY 1, 2
"""


def q200_governed_release(spark, sf_dir):
    """CAPSTONE: the governed corpus-release pipeline as ONE composed
    query — quality gate → exact dedup (min-id survivor carries its
    own attributes) → k-anonymity SUPPRESSION (drop surviving
    (lang, source) classes below 5) → pseudonymize → shard assignment →
    per-shard release ledger. Every stage is an operator the suite
    ships standalone (q31/q30/q179/q193/q76); the point here is that
    they COMPOSE without a materialization wall: three shuffles total
    (dedup key, anonymity class window, shard ledger), plan-budget
    asserted in tests/test_plans.py. The ledger's pseudonym sample is
    deterministic (min pseudonym per shard)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        fingerprint(F.col("text")).alias("fp"),
        token_count(F.col("text")).alias("n_tok"),
    ).where(quality_score(F.col("text")) >= 0.3)
    wd = Window.partitionBy("fp").orderBy("doc_id")
    surv = (
        base.withColumn("__rn", F.row_number().over(wd))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    wk = Window.partitionBy("lang", "source")
    released = (
        surv.withColumn("class_n", F.count(F.lit(1)).over(wk))
        .where(F.col("class_n") >= 5)
        .select(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8).alias(
                "pseudonym"
            ),
            "lang",
            "source",
            "n_tok",
            (
                F.conv(F.substring(F.md5("fp"), 1, 4), 16, 10).cast("long")
                % 8
            ).alias("shard"),
        )
    )
    return released.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("token_sum"),
        F.min("pseudonym").alias("sample_pseudonym"),
    )


CURATION_QUERIES["q200_governed_release"] = q200_governed_release

CURATION_ORACLES["q200_governed_release"] = f"""
    WITH t AS (
      SELECT doc_id, lang, source, text,
             {_FP} AS fp,
             len({_TOKS}) AS n_tok,
             ({_quality_sql()}) AS q
      FROM (SELECT *, {_TOKS} AS toks FROM documents)
    ),
    base AS (SELECT * FROM t WHERE q >= 0.3),
    surv AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM base
      ) WHERE rn = 1
    ),
    released AS (
      SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS pseudonym,
             lang, source, n_tok,
             {_hex_int("md5(fp)", 1, 4)} % 8 AS shard
      FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY lang, source) AS class_n
        FROM surv
      ) WHERE class_n >= 5
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS token_sum,
           MIN(pseudonym) AS sample_pseudonym
    FROM released GROUP BY shard
"""


def q202_cohens_kappa(spark, sf_dir):
    """Inter-annotator agreement as EXACT RATIONAL arithmetic: Cohen's
    kappa between the recorded ``lang`` label and the heuristic lang_id
    prediction (q161 shows the confusion matrix; kappa is its
    chance-corrected one-number summary, the standard annotation-QA
    gate). Every quantity is an integer count, and

        kappa = (n·agree − Σ_k a_k·b_k) / (n² − Σ_k a_k·b_k)

    is emitted ppm-scaled by integer division — no float ever appears,
    so the oracle hash is exact (the reason kappa fits this suite while
    z-tests don't). Shuffle cost: three tiny keyed aggregates + one
    category-key join of the two marginal vectors."""
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("a"), lang_id(F.col("text")).alias("b")
    )
    # ONE corpus pass: the lang_id kernel used to evaluate once per
    # consumer (totals, both marginals — three scans). Every downstream
    # quantity is an exact integer sum over the |langs|² contingency
    # table, so that tiny table is materialized once and n / agree /
    # marginals derive from it by associativity (identical counts).
    cont = (
        pred.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    totals = cont.agg(
        F.coalesce(F.sum("c"), F.lit(0).cast("long")).alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("a") == F.col("b"), F.col("c"))),
            F.lit(0).cast("long"),
        ).alias("agree"),
    )
    ma = cont.groupBy(F.col("a").alias("cat")).agg(
        F.sum("c").alias("na")
    )
    mb = cont.groupBy(F.col("b").alias("cat")).agg(
        F.sum("c").alias("nb")
    )
    chance = (
        ma.join(mb, "cat")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("sum_ab"))
        .select(F.coalesce("sum_ab", F.lit(0)).alias("sum_ab"))
    )
    return totals.crossJoin(F.broadcast(chance)).select(
        "n",
        "agree",
        F.expr("(agree * 1000000) div n").alias("po_ppm"),
        F.expr("(sum_ab * 1000000) div (n * n)").alias("pe_ppm"),
        F.expr(
            "((n * agree - sum_ab) * 1000000) div (n * n - sum_ab)"
        ).alias("kappa_ppm"),
    )


CURATION_QUERIES["q202_cohens_kappa"] = q202_cohens_kappa

CURATION_ORACLES["q202_cohens_kappa"] = f"""
    WITH t AS (
      SELECT lang, {_TOKS} AS toks, text FROM documents
    ),
    p AS (SELECT lang AS a, {_lang_sql()} AS b FROM t),
    totals AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
               AS agree
      FROM p
    ),
    ma AS (SELECT a AS cat, COUNT(*) AS na FROM p GROUP BY a),
    mb AS (SELECT b AS cat, COUNT(*) AS nb FROM p GROUP BY b),
    chance AS (
      SELECT COALESCE(CAST(SUM(na * nb) AS BIGINT), 0) AS sum_ab
      FROM ma JOIN mb USING (cat)
    )
    SELECT n, agree,
           (agree * 1000000) // n AS po_ppm,
           (sum_ab * 1000000) // (n * n) AS pe_ppm,
           ((n * agree - sum_ab) * 1000000) // (n * n - sum_ab)
             AS kappa_ppm
    FROM totals, chance
"""


def q208_quality_calibration(spark, sf_dir):
    """Per-source QUALITY-SCORE CALIBRATION table: sources score on
    different scales (a wiki-ish source's median beats a forum's), so
    one global quality threshold silently starves some sources — the
    fix every curation pipeline applies is per-source ranking. This
    exhibit quantifies the bias: within-source deciles (NTILE over the
    deterministic (score, doc_id) order) with their score span and
    where each decile's floor sits in the GLOBAL order
    (``global_below_ppm`` via one global rank window — no join, no
    percentile interpolation, exact integer output). Reading a row:
    source X's decile 8 starting at global ppm 310000 means its "top
    30%" would lose to a global cut at the 69th percentile.
    Two window passes + one tiny aggregate."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        scaled_long(quality_score(F.col("text")), 4).alias("q_s"),
    )
    w_src = Window.partitionBy("source").orderBy("q_s", "doc_id")
    w_glob = Window.orderBy("q_s", "doc_id")
    w_all = Window.partitionBy()
    ranked = scored.select(
        "source",
        "q_s",
        F.ntile(10).over(w_src).alias("src_decile"),
        F.row_number().over(w_glob).alias("g_rank"),
        F.count(F.lit(1)).over(w_all).alias("n_total"),
    )
    return ranked.groupBy("source", "src_decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("q_s").alias("min_qs"),
        F.max("q_s").alias("max_qs"),
        F.expr(
            "((cast(min(g_rank) as bigint) - 1) * 1000000)"
            " div max(n_total)"
        ).alias("global_below_ppm"),
    )


CURATION_QUERIES["q208_quality_calibration"] = q208_quality_calibration

CURATION_ORACLES["q208_quality_calibration"] = f"""
    WITH t AS (
      SELECT doc_id, source, text, {_TOKS} AS toks FROM documents
    ),
    scored AS (
      SELECT doc_id, source,
             CAST(ROUND((({_quality_sql()})) * 10000, 0) AS BIGINT) AS q_s
      FROM t
    ),
    ranked AS (
      SELECT source, q_s,
             NTILE(10) OVER (PARTITION BY source
                             ORDER BY q_s, doc_id) AS src_decile,
             ROW_NUMBER() OVER (ORDER BY q_s, doc_id) AS g_rank,
             COUNT(*) OVER () AS n_total
      FROM scored
    )
    SELECT source, CAST(src_decile AS INT) AS src_decile,
           COUNT(*) AS n_docs,
           CAST(MIN(q_s) AS BIGINT) AS min_qs,
           CAST(MAX(q_s) AS BIGINT) AS max_qs,
           CAST(((MIN(g_rank) - 1) * 1000000)
                // CAST(MAX(n_total) AS BIGINT) AS BIGINT)
             AS global_below_ppm
    FROM ranked GROUP BY source, src_decile
"""


def q209_ablation_ladder(spark, sf_dir):
    """NESTED ablation subsets for scaling-law runs: 5/10/20/40/80%
    corpus cuts where each level is BY CONSTRUCTION a superset of the
    previous (one md5 bucket per doc, thresholds ascending — the 5%
    docs are inside the 10% set, so "double the data" ablations compare
    supersets, not resamples; q45's single-rate sample can't promise
    that across levels). One projection + one tiny aggregate per level
    ONE scan, ONE
    wide aggregate (5 conditional count/sum/distinct triples riding
    Catalyst's Expand), unpivoted to 5 rows — never 5 rescans of the
    tokenization path, and empty levels report zeros instead of NULLs
    (contract matched by the oracle's FILTER + COALESCE form, one
    UNION branch per level so an empty corpus still yields 5 rows)."""
    from adhesive_spark.operators.curation import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        md5_bucket(F.col("doc_id")).alias("b"),
        token_count(F.col("text")).alias("n_tok"),
        "source",
    )
    levels = (5, 10, 20, 40, 80)
    aggs = []
    for pct in levels:
        hit = F.col("b") < pct * 100
        aggs += [
            F.sum(hit.cast("long")).alias(f"__n_{pct}"),
            F.sum(F.when(hit, F.col("n_tok"))).alias(f"__t_{pct}"),
            F.count_distinct(F.when(hit, F.col("source"))).alias(
                f"__s_{pct}"
            ),
        ]
    wide = base.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(pct).cast("int").alias("pct"),
                F.coalesce(F.col(f"__n_{pct}"), F.lit(0)).alias("n_docs"),
                F.coalesce(F.col(f"__t_{pct}"), F.lit(0).cast("long")).alias(
                    "token_sum"
                ),
                F.col(f"__s_{pct}").alias("n_sources"),
            )
            for pct in levels
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.*")


CURATION_QUERIES["q209_ablation_ladder"] = q209_ablation_ladder

CURATION_ORACLES["q209_ablation_ladder"] = f"""
    WITH base AS (
      SELECT {_hex_int("md5(CAST(doc_id AS VARCHAR))", 1, 4)} % 10000 AS b,
             len({_TOKS}) AS n_tok,
             source
      FROM documents
    )
    SELECT CAST(5 AS INT) AS pct,
           COUNT(*) FILTER (WHERE b < 500) AS n_docs,
           CAST(COALESCE(SUM(n_tok) FILTER (WHERE b < 500), 0)
                AS BIGINT) AS token_sum,
           COUNT(DISTINCT source) FILTER (WHERE b < 500)
             AS n_sources
    FROM base
    UNION ALL
    SELECT CAST(10 AS INT) AS pct,
           COUNT(*) FILTER (WHERE b < 1000) AS n_docs,
           CAST(COALESCE(SUM(n_tok) FILTER (WHERE b < 1000), 0)
                AS BIGINT) AS token_sum,
           COUNT(DISTINCT source) FILTER (WHERE b < 1000)
             AS n_sources
    FROM base
    UNION ALL
    SELECT CAST(20 AS INT) AS pct,
           COUNT(*) FILTER (WHERE b < 2000) AS n_docs,
           CAST(COALESCE(SUM(n_tok) FILTER (WHERE b < 2000), 0)
                AS BIGINT) AS token_sum,
           COUNT(DISTINCT source) FILTER (WHERE b < 2000)
             AS n_sources
    FROM base
    UNION ALL
    SELECT CAST(40 AS INT) AS pct,
           COUNT(*) FILTER (WHERE b < 4000) AS n_docs,
           CAST(COALESCE(SUM(n_tok) FILTER (WHERE b < 4000), 0)
                AS BIGINT) AS token_sum,
           COUNT(DISTINCT source) FILTER (WHERE b < 4000)
             AS n_sources
    FROM base
    UNION ALL
    SELECT CAST(80 AS INT) AS pct,
           COUNT(*) FILTER (WHERE b < 8000) AS n_docs,
           CAST(COALESCE(SUM(n_tok) FILTER (WHERE b < 8000), 0)
                AS BIGINT) AS token_sum,
           COUNT(DISTINCT source) FILTER (WHERE b < 8000)
             AS n_sources
    FROM base
"""
