"""Scale-up stress harness: replicate the corpus N× IN the cluster
(no driver materialization) and run the headline pipeline operators at
the inflated size, reporting wall time and rows/sec per operator.

This is the "would it hold at 1000×?" experiment the plan audit
(PLANS.md) argues on paper: replication multiplies exactly the hazards
that break naive implementations —

- exact dedup: N× rows shuffle into the same fingerprint groups;
- MinHash LSH: every document becomes an N-copy near-dup cluster, so
  candidate generation must stay O(cluster²·docs/cluster), not
  O(corpus²) — a banding bug shows up as a cliff here, not at 1×;
- quality filter + chunk + pack (the q102 composition): stays
  2 shuffles regardless of N or the operator count between them;
- brute kNN: scoring scan scales linearly in the corpus, queries stay
  broadcast.

Replication happens with ``explode(sequence(...))`` map-side — the
input parquet is read once and fanned out inside the scan stage, so a
rep=100 run really pushes 100× rows through every shuffle boundary.

Usage: python tools/stress.py [reps] [sf_dir]
Prints one JSON line: {"reps": N, "ops": {name: {rows_out, sec,
rows_in_per_sec}}, "total_sec": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from adhesive_spark.session import build_spark  # noqa: E402
from adhesive_spark.sources.registry import (  # noqa: E402
    ensure_parallelism,
    load_table,
)


def execute_timed(out):
    """The harness's measurement core: returns ``(rows_out, sec)``,
    where ``sec`` times the zero-materialization noop sink (every
    expression executes) and ``rows_out`` is counted untimed
    afterwards."""
    t0 = time.perf_counter()
    out.write.format("noop").mode("overwrite").save()
    sec = time.perf_counter() - t0
    n_out = out.count()  # untimed, for the record only
    return n_out, sec


def replicate(df, id_col: str, reps: int):
    """Fan each row out ``reps``× with remapped unique ids
    (``id·reps + copy``): the N copies of a row are exact duplicates of
    each other, so dedup sees N-copy fingerprint groups and ANN sees
    N-copy clusters.  Original ids do NOT survive the remap — join
    stress output to the base corpus via ``id div reps``, not ``id``.

    The input is hash-widened to core count BEFORE the explode
    (r12 fixture audit): the local testdata tables are single-split
    parquet files, so without this every ladder's N× fan-out AND all
    map-side work riding in the scan stage (fingerprinting, partial
    aggregates, shuffle writes) SERIALIZE in one task — the measured
    walls were one core's scan, not the cluster's. A real N×-sized
    input arrives in many splits, which is what the widened fixture
    models; the base table shuffle this costs is reps× smaller than
    the data it fans out. Round-robin (no hash column): small capped
    bases (cdc_chunk's 250 docs) hash-imbalance a 32-way id split and
    the explode amplifies the skew reps×, while base co-partitioning
    buys nothing downstream — the remap invalidates the ids anyway."""
    return (
        ensure_parallelism(df)
        .withColumn("__rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
        .withColumn(
            id_col, F.col(id_col) * F.lit(reps) + F.col("__rep")
        )
        .drop("__rep")
    )


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    # Deep rungs (1B+ rows through 150-key window partitions) need more
    # than the bench's 8 g heap — 32 concurrent tasks sorting multi-
    # million-row partitions GC-thrash it (r11: interval_union OOM at
    # 10 000×). Overridable per run; the bench and tests stay at 8 g.
    heap = os.environ.get("SPARK_GRAFT_STRESS_MEM", "8g")
    spark = build_spark(
        app_name="adhesive-stress",
        extra_conf={"spark.driver.memory": heap},
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    big_docs = replicate(docs, "doc_id", reps)
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    big_emb = replicate(emb, "vec_id", reps)
    rows_in = n_docs * reps

    ops: dict[str, dict] = {}

    # optional comma-separated op filter: iterate on ONE ladder without
    # paying for the whole suite (names as printed / as in STRESS.md)
    only = {
        s for s in os.environ.get("SPARK_GRAFT_STRESS_OPS", "").split(",") if s
    }

    # Execution protocol (round 10): DataFrame results are TIMED through
    # the zero-materialization noop sink, then counted UNTIMED for the
    # record.  A .count() is NOT an honest executor: over an aggregate it
    # prunes the aggregate FUNCTIONS (the round-10 audit caught
    # gopher_repetition at 1.9 s counted vs 50.5 s executed — count()
    # was measuring distinct(source), not the gram lanes), and over a
    # GLOBAL aggregate OptimizeOneRowPlan answers "1 row" with no
    # execution at all (the feature_matrix artifact).  Ladders whose
    # count-vs-noop walls agreed in the audit keep their historical
    # numbers.

    def run(name: str, build, n_in: int) -> None:
        if only and name not in only:
            return
        t0 = time.perf_counter()
        out = build()
        build_sec = time.perf_counter() - t0
        if hasattr(out, "count"):
            n_out, exec_sec = execute_timed(out)
            # plan-construction time (incl. any eager collects a builder
            # does) stays inside the ladder wall, as it always has
            sec = build_sec + exec_sec
        else:
            n_out = int(out)
            sec = build_sec
        ops[name] = {
            "rows_out": n_out,
            "sec": round(sec, 2),
            "rows_in_per_sec": int(n_in / sec) if sec > 0 else None,
        }
        print(f"{name:24s} {n_out:>10} rows out  {sec:7.2f}s", file=sys.stderr)

    from adhesive_spark.operators.dedup import dedup_exact, minhash_lsh_pairs
    from adhesive_spark.operators.text import (
        chunk_documents,
        pack_sequences,
        quality_score,
    )
    from adhesive_spark.operators.similarity import knn_bruteforce

    run("dedup_exact", lambda: dedup_exact(big_docs, "text", "doc_id"), rows_in)

    # Span-level dedup over N-copy clusters: every replica's spans
    # collapse onto the first copy's, so the first-occurrence window
    # sees reps-sized partitions per span — the hazard class — while
    # output stays corpus-sized (reassembled docs, most of them empty).
    from adhesive_spark.operators.dedup import span_dedup

    run(
        "span_dedup",
        lambda: span_dedup(big_docs, "text", "doc_id", span_tokens=20),
        rows_in,
    )

    # LSH candidate generation + verify over N-copy clusters: the pair
    # count is reps²-driven, the shuffle stays banded.  Cap the base
    # corpus so pair output stays printable, not to protect the plan.
    # The cap tightens at the 1000× rung: //5 would put 1000 clusters ×
    # C(1000,2) ≈ 499.5 M pairs through the single-box pair-dedup hash
    # aggregate, which heap-OOMs this JVM (r11 measured) — //20 keeps
    # the SAME plan shape at the 124.9 M-pair budget the containment
    # ladder already sustains. On a fleet the budget is per-executor,
    # so this is a harness constraint, not an operator one.
    lsh_div = 5 if reps <= 300 else 20
    lsh_base = big_docs.where(
        (F.col("doc_id") % F.lit(reps * lsh_div)) < reps
    )
    run(
        "minhash_lsh_pairs",
        lambda: minhash_lsh_pairs(
            lsh_base, "text", "doc_id", threshold=0.7
        ),
        rows_in // lsh_div,
    )

    # Persisted-LSH amortization: index the inflated corpus ONCE, then
    # probe with a 1%-of-corpus batch — the per-batch production cost.
    # rows_in for the probe is the BATCH size: the point of the index
    # is that probe cost scales with it, not with the corpus.
    from adhesive_spark.operators.dedup import (
        persist_minhash_index,
        probe_minhash_index,
    )

    if not only or "lsh_probe_batch" in only:
        lsh_corpus = big_docs.where(
            (F.col("doc_id") % F.lit(reps * 20)) < reps
        )
        t0 = time.perf_counter()
        persist_minhash_index(
            lsh_corpus, "t_stress_lsh", num_perm=64, bands=16, n_buckets=32
        )
        build_sec = round(time.perf_counter() - t0, 2)
        batch = big_docs.where(
            ((F.col("doc_id") % F.lit(reps * 20)) >= F.lit(reps))
            & ((F.col("doc_id") % F.lit(reps * 20)) < F.lit(2 * reps))
        ).withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000_000))
        # stable name so the SPARK_GRAFT_STRESS_OPS filter can select it;
        # the one-time index build cost rides along in its own record
        run(
            "lsh_probe_batch",
            lambda: probe_minhash_index(
                batch, "t_stress_lsh", num_perm=64, bands=16, threshold=0.7
            ),
            rows_in // 20,
        )
        if "lsh_probe_batch" in ops:
            ops["lsh_probe_batch"]["index_build_sec"] = build_sec

    def _pipeline():
        filt = big_docs.where(quality_score(F.col("text")) >= 0.3)
        chunks = chunk_documents(
            filt, "text", "doc_id", chunk_size=64, stride=64,
            carry_cols=("source",),
        )
        return pack_sequences(
            chunks, "source", ["doc_id", "chunk_id"], seq_tokens=512
        )

    run("filter_chunk_pack", _pipeline, rows_in)

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    run(
        "knn_bruteforce",
        lambda: knn_bruteforce(big_emb, queries, k=10),
        2000 * reps,
    )

    # CDC MERGE apply under ADVERSARIAL key skew: replication multiplies
    # the log but not the key space (150 users), so every latest-op
    # window partition grows N× — the worst case for the one-window
    # shape (real CDC keys are high-cardinality; this is strictly
    # harder). Cost must stay linear in the log.
    from adhesive_spark.operators.incremental import apply_cdc

    events = load_table(spark, sf_dir, "events")
    n_events = events.count()
    big_log = replicate(events, "event_id", reps).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        "value",
    )
    run(
        "cdc_apply",
        lambda: apply_cdc(big_log, ["user_id"], ["ts", "event_id"], "op"),
        n_events * reps,
    )

    # Keyed reconciliation at scale: diff the inflated corpus against a
    # mutated copy (1/16 of keys changed, 1/97 dropped) — one full-outer
    # join on the key; cost must stay linear in the table, and the diff
    # row count stays proportional to the CHANGES, not the table.
    from adhesive_spark.operators.quality import table_diff

    mutated = big_docs.where(F.col("doc_id") % 97 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 16 == 0, F.concat(F.col("text"), F.lit(" x"))
        ).otherwise(F.col("text")),
    )
    run(
        "table_diff",
        lambda: table_diff(big_docs, mutated, ["doc_id"]),
        rows_in,
    )

    # Connected components on deliberately LONG path graphs: reps·10
    # parallel 32-node paths (diameter 31), a cost axis that replicating
    # wide/flat dedup graphs never exercises. Large-star/small-star
    # (graph.py connected_components) converges in ~7 alternating
    # rounds where diameter-bound label propagation would need 31;
    # max_rounds=10 makes that a hard assert on rungs whose edge set is
    # above the local-finish gate (1M edges) — below it one driver-side
    # union-find pass answers.
    from adhesive_spark.operators.graph import connected_components

    chain_len = 32
    path_edges = (
        spark.range(reps * 10)
        .select(F.col("id").alias("c"))
        .crossJoin(spark.range(chain_len - 1).select(F.col("id").alias("i")))
        .select(
            (F.col("c") * chain_len + F.col("i")).alias("id_a"),
            (F.col("c") * chain_len + F.col("i") + 1).alias("id_b"),
        )
    )

    def _cc_star():
        labels = connected_components(path_edges, max_rounds=10)
        # sanity INSIDE the stress: every 32-node path collapses to one
        # component labeled by its min node — wrong round accounting
        # would surface as a component-count mismatch here
        n_comp = labels.select("component").distinct().count()
        assert n_comp == reps * 10, f"expected {reps * 10} components, got {n_comp}"
        return labels

    run("cc_star_log_rounds", _cc_star, reps * 10 * (chain_len - 1))

    # Interval-union sweep under ADVERSARIAL window skew: replication
    # multiplies events but the user-id space stays fixed (150 users at
    # sf0.1), so every window partition grows N× — the worst case for
    # the per-key linear sweep. Cost must stay one shuffle + linear
    # per-partition; island count per user is replication-invariant
    # (copies share timestamps), which the run asserts via output rows.
    from adhesive_spark.operators.asof import interval_union

    big_iv = replicate(events, "event_id", reps).select(
        "user_id", F.unix_micros("ts").alias("s")
    ).withColumn("e", F.col("s") + F.lit(300_000_000))
    run(
        "interval_union_skewed",
        lambda: interval_union(big_iv, "user_id", "s", "e"),
        n_events * reps,
    )

    # The salted engine on the SAME adversarial fixture: per-key row
    # sets split across 32 endpoint-hash salts before the sweep, so the
    # per-partition sort stays under the external-sort cliff the plain
    # sweep crosses at ~6.7 M rows/partition (r11 10 000x rung); the
    # per-salt island sets then merge per key. Output equality with the
    # default engine is pinned by tests/test_scale_ops.py.
    run(
        "interval_union_salted",
        lambda: interval_union(
            big_iv, "user_id", "s", "e", engine="salted"
        ),
        n_events * reps,
    )

    # Exact p50/p90/p99 at scale: the two-phase histogram must keep its
    # cost in the HISTOGRAM pass (linear hash agg); only the buckets
    # holding a requested quantile get ranked. Replication multiplies
    # every bucket count N× while bucket COUNT stays fixed — the rank
    # phase's input grows with the target buckets only.
    from adhesive_spark.operators.quality import exact_quantile_ladder

    big_q = replicate(events, "event_id", reps).select(
        "event_type",
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v_milli"),
    )
    run(
        "exact_quantile_ladder",
        lambda: exact_quantile_ladder(
            big_q,
            "event_type",
            "v_milli",
            [("p50", 50, 100), ("p90", 90, 100), ("p99", 99, 100)],
        ),
        n_events * reps,
    )

    # HLL register build at scale: replication REMAPS ids (id·reps+copy),
    # so true cardinality grows N× while sketch state stays 64 registers
    # — the whole value proposition. One hash aggregate, map-side
    # combining collapses each partition to ≤64 (bucket, max-rho) rows
    # before the shuffle; cost must stay linear in the stream with a
    # constant-size shuffle payload. (The exact-distinct twin q241
    # carries for its error audit is exactly the full-key shuffle this
    # path exists to avoid, so it is deliberately NOT in the stress.)
    from adhesive_spark.operators.sketches import HLL_M, HLL_SCALE, hash60

    big_keys = replicate(
        load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("k")
        ),
        "k",
        reps,
    )
    h = hash60(F.col("k"))

    def _hll_registers():
        return (
            big_keys.select(
                (h % F.lit(HLL_M)).alias("bucket"),
                F.shiftright(h, 6).alias("rem"),
            )
            .select(
                "bucket",
                F.when(F.col("rem") == 0, F.lit(HLL_SCALE))
                .otherwise(
                    F.lit(HLL_SCALE) - F.length(F.bin(F.col("rem"))).cast("long")
                )
                .alias("rho"),
            )
            .groupBy("bucket")
            .agg(F.max("rho").alias("m_j"))
        )

    n_li = load_table(spark, sf_dir, "lineitem").count()
    run("hll_registers", _hll_registers, n_li * reps)

    # Grid-density clustering (q260 shape) over the N×-replicated
    # embedding space: the first aggregate collapses the corpus onto
    # the FIXED grid (~300 occupied cells at sf0.1 regardless of N), so
    # the neighbor join + component closure cost is replication-
    # invariant — rows/s must RISE roughly linearly with reps. A pair
    # term or a corpus-sized post-aggregate stage would flatline here.
    def _grid_density():
        pts = big_emb.select(
            F.expr(
                "(CAST(ROUND(CAST(element_at(embedding, 1) AS DOUBLE)"
                " * 1000, 0) AS BIGINT) + 1000000) div 25"
            ).alias("cx"),
            F.expr(
                "(CAST(ROUND(CAST(element_at(embedding, 2) AS DOUBLE)"
                " * 1000, 0) AS BIGINT) + 1000000) div 25"
            ).alias("cy"),
        )
        core = (
            pts.groupBy("cx", "cy")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") >= 3 * reps)  # density scales with reps
            .withColumn("cell_id", F.col("cx") * 100000 + F.col("cy"))
            .localCheckpoint(eager=True)
        )
        offsets = F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
        probes = core.select(
            F.col("cell_id").alias("id_a"),
            F.explode(offsets).alias("o"),
            "cx",
            "cy",
        ).select(
            "id_a",
            (F.col("cx") + F.col("o.dx")).alias("nx"),
            (F.col("cy") + F.col("o.dy")).alias("ny"),
        )
        edges = probes.join(
            core.select(
                F.col("cx").alias("nx"),
                F.col("cy").alias("ny"),
                F.col("cell_id").alias("id_b"),
            ),
            ["nx", "ny"],
        ).select("id_a", "id_b")
        return (
            connected_components(edges, "id_a", "id_b")
            .join(core.select(F.col("cell_id").alias("node"), "n"), "node")
            .groupBy("component")
            .agg(F.sum("n").alias("n_points"))
        )

    n_emb = emb.count()
    run("grid_density_clusters", _grid_density, n_emb * reps)

    # Point-in-time feature matrix (q270 shape) over an N×-replicated
    # event log with the ORIGINAL 150-user key space kept (only
    # event_id remapped): every user's window partition grows N× wide —
    # the adversarial case for the strictly-before running-feature
    # window (same hazard class as cdc_apply / interval_union). Linear
    # per-partition sweep ⇒ throughput must not collapse.
    from pyspark.sql import Window as W

    big_ev = replicate(
        load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        ),
        "event_id",
        reps,
    )

    def _feature_matrix():
        wname = (
            W.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        feats = big_ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
            F.sum(
                F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")
            )
            .over(wname)
            .alias("n_clicks_before"),
            F.sum(
                F.expr(
                    "CASE WHEN event_type = 'purchase' THEN"
                    " CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END"
                )
            )
            .over(wname)
            .alias("spent_before_cents"),
        )
        # REDUCE over the window outputs: a bare count() would let
        # Catalyst prune the unreferenced Window operator entirely and
        # the case would measure a no-op scan.  COLLECT the one-row
        # aggregate here (returning the purchase count as the harness
        # row count): handing the agg DataFrame back to run() lets
        # run()'s .count() hit Spark's OptimizeOneRowPlan shortcut — a
        # global aggregate is known to be exactly 1 row, so the window
        # never executes and the ladder measures ~0.3 s at any N (this
        # artifact was caught in round 10; the r7-recorded numbers
        # predate the final-agg refactor and were measured on the
        # executed window).
        row = (
            feats.where(F.col("event_type") == "purchase")
            .agg(
                F.sum("n_clicks_before").alias("a"),
                F.sum("spent_before_cents").alias("b"),
                F.count("*").alias("n"),
            )
            .collect()[0]
        )
        assert row["a"] is not None and row["n"] > 0
        return int(row["n"])

    n_ev = load_table(spark, sf_dir, "events").count()
    run("feature_matrix_pit", _feature_matrix, n_ev * reps)

    # Gopher repetition rules at N×: deliberately fully in-row — no gram
    # explode, no shuffle (see the q281 docstring). The 6 n-gram lanes
    # are one Arrow kernel widening each task's per-row work, so
    # replication multiplies only embarrassingly-parallel map work —
    # wall must stay FLAT per row.
    from adhesive_spark.queries.training_queries import (
        gopher_repetition_report,
        shard_manifest_report,
    )

    run(
        "gopher_repetition",
        lambda: gopher_repetition_report(big_docs),
        rows_in,
    )

    # Shard manifest at N×: each of the 256 bucket windows' partitions
    # grows N× wide — the per-partition sort+cumsum is the hazard; the
    # rollup stays 256 rows regardless of reps.
    run(
        "shard_manifest",
        lambda: shard_manifest_report(big_docs),
        rows_in,
    )

    # DSIR importance at N×: the bigram explode + per-gram md5 is the
    # linear hazard; the 8192-row weight table stays broadcast at every
    # N — any corpus-sized term in the join side would show here.
    from adhesive_spark.queries.training_queries import (
        dsir_importance_report,
        token_gini_report,
    )

    run(
        "dsir_importance",
        lambda: dsir_importance_report(big_docs),
        rows_in,
    )

    # Token Gini at N×: replication grows rows but NOT distinct token
    # counts, so the rank window runs over a bounded value domain —
    # wall must stay flat-to-falling per row (the bounded-domain
    # exactness contract).
    run(
        "token_gini",
        lambda: token_gini_report(big_docs),
        rows_in,
    )

    # CDC chunk dedup at N×: in-row chunk assembly is map-only; the
    # hazard is the chunk-hash shuffle, whose payload grows N× while
    # every chunk group becomes an N-copy bucket (the replicated docs
    # chunk identically) — throughput must stay flat-or-rising, like
    # exact dedup.
    from adhesive_spark.queries.audit_queries import (
        bradley_terry_report,
        cdc_chunk_report,
    )

    run(
        "cdc_chunk_dedup",
        lambda: cdc_chunk_report(big_docs),
        rows_in,
    )

    # Quantile-matched filter at N×: replication multiplies the corpus
    # but NOT the distinct quality values, so the global and per-source
    # threshold windows (distinct-value rank trick) stay bounded-domain
    # — wall must track the linear scoring pass only.
    from adhesive_spark.queries.audit_queries import quantile_matched_report

    run(
        "quantile_matched_filter",
        lambda: quantile_matched_report(big_docs),
        rows_in,
    )

    # Bradley–Terry at N×: replication multiplies the duel-window pass
    # (event_id remap keeps rows unique; same-type/same-value adjacent
    # copies are filtered as ties) but the win matrix stays K² and the
    # 3 MM iterations are replication-INVARIANT — wall must grow only
    # with the first corpus pass, never with iteration count × N.
    run(
        "bradley_terry",
        lambda: bradley_terry_report(
            replicate(events, "event_id", reps)
        ),
        n_events * reps,
    )

    # KS drift at N×: replication grows ROWS but never distinct quality
    # values, so the (source, q_s) collapse, the value grid and all
    # windows are replication-invariant — wall must track the one corpus
    # pass only (the q318 contract applied to a two-sample statistic).
    from adhesive_spark.queries.metrology_queries import ks_drift_report

    run("ks_drift", lambda: ks_drift_report(big_docs), rows_in)

    # Containment pairs over N-copy clusters: the candidate join's pair
    # term is cluster-quadratic by design (same hazard as
    # minhash_lsh_pairs); the df cap bounds per-shingle cost at cap².
    # Base corpus capped so the pair OUTPUT stays printable — the plan
    # shape is what's under test, and it is unchanged by the cap.
    from adhesive_spark.operators.dedup import containment_pairs

    # //20 base (vs minhash's //5): the exact shingle join carries ~3×
    # the per-pair cost of the banded join, so the same pair budget
    # needs a smaller cluster population to fit the single-box harness.
    cont_base = big_docs.where((F.col("doc_id") % F.lit(reps * 20)) < reps)
    run(
        "containment_pairs",
        lambda: containment_pairs(
            cont_base, "text", "doc_id", n=3, threshold_ppm=250_000
        ),
        rows_in // 20,
    )

    # TV distance at N×: replication grows rows but neither the vocab
    # nor the source set, so the collapsed (source, token) table, the
    # per-token source vectors and the 190-row pair spine are all
    # replication-invariant — wall must track the one tokenize+count
    # corpus pass only.
    from adhesive_spark.queries.estimator_queries import (
        decile_psi_report,
        runs_test_report,
        tv_distance_report,
    )

    run("tv_distance", lambda: tv_distance_report(big_docs), rows_in)

    # Decile PSI at N×: the distinct-n_chars decile table is
    # replication-invariant; the only corpus-sized step is the label
    # join + per-(source, decile) count — linear, one shuffle.
    run("decile_psi", lambda: decile_psi_report(big_docs), rows_in)

    # Runs test at N×: 20 fixed sources ⇒ every per-source lag-window
    # partition grows N× wide (the adversarial-width case for the
    # ordered scan); the median lookup stays bounded-domain.
    run("runs_test", lambda: runs_test_report(big_docs), rows_in)

    # RFM at N×: order ROWS replicate (orderkey remapped) but the
    # 1 500-customer key space is FIXED, so every per-customer group
    # grows N× wide (the cdc_apply hazard class); the quintile tables
    # live on distinct metric values and the output stays ≤125 rows.
    from adhesive_spark.queries.estimator_queries import rfm_report

    orders_t = load_table(spark, sf_dir, "orders")
    n_orders = orders_t.count()
    run(
        "rfm_segments",
        lambda: rfm_report(replicate(orders_t, "o_orderkey", reps)),
        n_orders * reps,
    )

    # Link prediction at N×: replicate the (s, p) affiliation edges on
    # the PART side (part ids remapped), so each supplier's neighborhood
    # grows N× while per-part supplier fanout stays constant — the pair
    # join's work grows linearly as reps × fanout², never supplier².
    # (Replicating on the SUPPLIER side instead would inflate every part
    # past the df-cap and the hub filter would drop the whole graph —
    # that degenerate direction exercises the cap, not the join.)
    # //10 base so the 1000× rung lands at ~59 M edges on this box.
    from adhesive_spark.queries.eval_queries import link_prediction_report

    lp_edges = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .where(F.col("l_partkey") % 10 == 0)
        .distinct()
    )
    n_lp = lp_edges.count()
    run(
        "link_prediction",
        lambda: link_prediction_report(replicate(lp_edges, "p", reps)),
        n_lp * reps,
    )

    # TF-cosine all-pairs at N×: SALTED-vocab replication — each copy's
    # tokens get the copy index appended, so the corpus grows N× while
    # the per-copy df distribution (and therefore the df-cap structure)
    # stays identical to the base: the model of N independent shards of
    # the same corpus, which is what 100 TB of web text looks like.
    # Plain N-copy replication would instead multiply every term's df
    # by N and push the whole vocabulary past the cap — a degenerate
    # ladder that measures the hub filter, not the join. Cost contract:
    # token pass linear in rows, inverted-index join = N × (per-shard
    # n_terms × cap²) — linear in N, never corpus².
    from adhesive_spark.operators.text import tokens as _lp_tokens
    from adhesive_spark.queries.metrology_queries import (
        tfcos_allpairs_report,
    )

    cos_base = docs.where(F.col("doc_id") < 200)
    n_cos = cos_base.count()

    def _tfcos():
        big = replicate(cos_base, "doc_id", reps)
        tf = (
            big.select(
                "doc_id", F.explode(_lp_tokens(F.col("text"))).alias("tok")
            )
            .withColumn(
                "tok",
                F.concat_ws(
                    "#",
                    F.col("tok"),
                    (F.col("doc_id") % F.lit(reps)).cast("string"),
                ),
            )
            .groupBy("doc_id", "tok")
            .agg(F.count("*").cast("long").alias("tf"))
        )
        return tfcos_allpairs_report(tf)

    run("tfcos_allpairs", _tfcos, n_cos * reps)

    total = round(sum(o["sec"] for o in ops.values()), 2)
    print(
        json.dumps(
            {"reps": reps, "rows_in": rows_in, "ops": ops, "total_sec": total}
        )
    )


if __name__ == "__main__":
    main()
