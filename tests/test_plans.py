"""Plan-shape tests: the 100 TB design contract.

These lock the physical properties that make the queries survive a
1000-executor scale-up: broadcast joins where a dimension is small,
parquet filter pushdown, top-k without global sort, no cartesian
products, and codegen coverage.
"""

import pytest
from pyspark.sql import functions as F

from adhesive_spark.plans.explain import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    codegen_stage_count,
    physical_plan,
)
from adhesive_spark.queries.relational import (
    q02_filter_project,
    q03_top_unshipped_orders,
    q05_regional_revenue,
    q07_broadcast_dims,
    q09_theta_join,
    q20_topk,
)


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_filter_projection_pushdown(spark, sf):
    df = q02_filter_project(spark, sf)
    assert_pushed_filters(df)
    # column pruning: scan must not read the full 11-column lineitem
    from adhesive_spark.plans.explain import formatted_plan

    plan = formatted_plan(df)
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_broadcast_dims_plan(spark, sf):
    df = q07_broadcast_dims(spark, sf)
    assert_broadcast_join(df, min_count=2)
    assert_no_cartesian(df)


def test_q05_broadcasts_small_dims(spark, sf):
    df = q05_regional_revenue(spark, sf)
    assert_broadcast_join(df, min_count=3)
    assert_no_cartesian(df)


def test_q03_semi_structure(spark, sf):
    df = q03_top_unshipped_orders(spark, sf)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan  # top-k, not global sort
    assert_no_cartesian(df)


def test_q09_theta_is_hash_join_with_residual(spark, sf):
    df = q09_theta_join(spark, sf)
    plan = physical_plan(df)
    # equi-part drives a hash join; theta part is the residual condition —
    # must NOT degenerate to nested-loop over the full fact table.
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_topk_no_global_sort(spark, sf):
    df = q20_topk(spark, sf)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_codegen_coverage(spark, sf):
    # The flagship aggregate should run fully inside whole-stage codegen.
    from adhesive_spark.queries.relational import q01_pricing_summary

    df = q01_pricing_summary(spark, sf)
    assert codegen_stage_count(df) >= 2


def test_range_join_uses_equi_hash(spark, sf):
    # equi key (user) must drive a hash/merge join; the time-range
    # predicate is a residual — NOT a nested loop over the full stream.
    from adhesive_spark.queries.advanced_queries import q29_range_join

    df = q29_range_join(spark, sf)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_knn_ivf_broadcasts_centroids_and_probes(spark, sf):
    from adhesive_spark.queries.advanced_queries import q49_knn_ivf

    df = q49_knn_ivf(spark, sf)
    assert_broadcast_join(df, min_count=2)


def test_ivf_persisted_probe_prunes_buckets(spark, sf):
    """The amortized IVF path: the probe must (a) DYNAMICALLY
    partition-prune the persisted index scan (read only probed
    inverted-list directories at runtime — no driver collect, no
    literal IN list), (b) shuffle nothing on the index side (broadcast
    probes), and (c) return exactly the inline knn_ivf result."""
    import re

    from adhesive_spark.plans.explain import formatted_plan
    from adhesive_spark.queries.advanced_queries import (
        q49_knn_ivf,
        q83_ivf_persisted_probe,
    )

    df = q83_ivf_persisted_probe(spark, sf)
    plan = formatted_plan(df)
    m = re.search(
        r"PartitionFilters: \[[^\]]*dynamicpruningexpression\("
        r"centroid_id#\d+L? IN dynamicpruning#\d+\)",
        plan,
    )
    assert m, f"no dynamic partition pruning in probe plan:\n{plan}"
    assert_broadcast_join(df, min_count=1)
    got = {(r.query_id, r.rank): (r.vec_id, r.sim) for r in df.collect()}
    want = {
        (r.query_id, r.rank): (r.vec_id, r.sim)
        for r in q49_knn_ivf(spark, sf).collect()
    }
    assert got == want


def test_salted_join_no_cartesian(spark, sf):
    from adhesive_spark.queries.advanced_queries import q48_salted_join

    df = q48_salted_join(spark, sf)
    assert_no_cartesian(df)


def test_mixture_sample_broadcasts_rates(spark, sf):
    # the per-stratum rate table is tiny by definition — it must join
    # back by broadcast, never shuffle the corpus on the stratum key
    from adhesive_spark.plans.explain import assert_no_nested_loop
    from adhesive_spark.queries.curation_queries import q82_mixture_sample

    df = q82_mixture_sample(spark, sf)
    assert_broadcast_join(df, min_count=1)
    assert_no_nested_loop(df)


def test_correlated_subqueries_decorrelate(spark, sf):
    # Q17/Q21 shapes: the correlated aggregate and the EXISTS/NOT EXISTS
    # must decorrelate into aggregate+join / semi+anti joins — never a
    # per-outer-row rescan (nested loop) of the fact table
    from adhesive_spark.plans.explain import assert_no_nested_loop
    from adhesive_spark.queries.relational import (
        q77_small_qty_revenue,
        q79_waiting_suppliers,
        q107_min_cost_supplier,
        q108_excess_share_suppliers,
    )

    for q in (
        q77_small_qty_revenue,
        q79_waiting_suppliers,
        # Q2/Q20 shapes: correlated scalar MIN over an aggregate; nested
        # IN + correlated SUM threshold
        q107_min_cost_supplier,
        q108_excess_share_suppliers,
    ):
        df = q(spark, sf)
        assert_no_nested_loop(df)
        plan = physical_plan(df)
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_contamination_is_equi_join(spark, sf):
    # candidate generation must be an equi-join on the shingle — never a
    # text-pair nested loop
    from adhesive_spark.plans.explain import assert_no_nested_loop
    from adhesive_spark.queries.curation_queries import q69_contamination_check

    df = q69_contamination_check(spark, sf)
    assert_no_nested_loop(df)


def test_embedding_neardup_blocked_no_nested_loop(spark, sf):
    # the exact near-dup pair query must be an equi-join on the block
    # key, not a nested loop over all pairs (the r01 scale killer)
    from adhesive_spark.plans.explain import assert_no_nested_loop
    from adhesive_spark.queries.pipeline_queries import q34_embedding_neardup

    df = q34_embedding_neardup(spark, sf)
    assert_no_nested_loop(df)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_runtime_bloom_filter_join_reduction(spark, sf):
    """Runtime bloom-filter injection: with a selective dimension filter,
    Catalyst builds a bloom filter on the creation side and pushes a
    might_contain prefilter into the fact scan — at 100 TB this is the
    shuffle-join scan reducer (rows failing the filter never leave the
    map side). Local thresholds are tiny, so the test lowers the
    application-side gate to prove the plan shape is available."""
    from adhesive_spark.plans.explain import physical_plan
    from adhesive_spark.sources.registry import load_table

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # force a shuffle join: broadcast joins don't need the bloom
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf, "lineitem")
        orders = load_table(spark, sf, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = physical_plan(j)
        assert "might_contain" in plan, f"no runtime bloom filter:\n{plan}"
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_analogs_broadcast_dims(spark, sf):
    """The Q7/Q8/Q10/Q14 analogs must broadcast their dimension sides and
    never degenerate to nested loops — six-way joins are where a bad plan
    costs the most at scale."""
    from adhesive_spark.plans.explain import assert_no_nested_loop
    from adhesive_spark.queries.relational import (
        q94_volume_shipping,
        q95_market_share,
        q96_returned_items,
        q97_promo_revenue,
    )

    for q, min_bcast in [
        (q94_volume_shipping, 3),
        (q95_market_share, 4),
        (q96_returned_items, 1),
        (q97_promo_revenue, 1),
    ]:
        df = q(spark, sf)
        assert_broadcast_join(df, min_count=min_bcast)
        assert_no_nested_loop(df)
    # Q10's top-20 must be TakeOrdered, not a global sort
    plan = physical_plan(q96_returned_items(spark, sf))
    assert "TakeOrderedAndProject" in plan, plan


def test_shuffle_budgets_most_expensive(spark, sf):
    """Pin the exchange budget of the most expensive bench queries (and
    the new composed pipeline): a regression that adds a shuffle should
    fail here, not surface as a silent bench slowdown.  Budgets are the
    r4-audited counts (PLANS.md)."""
    from adhesive_spark.plans.explain import shuffle_exchange_count
    from adhesive_spark.queries.advanced_queries import q101_knn_ivf_refined
    from adhesive_spark.queries.curation_queries import (
        q69_contamination_check,
        q100_corpus_report,
        q102_curation_pipeline,
        q200_governed_release,
    )
    from adhesive_spark.queries.pipeline_queries import (
        q30_dedup_exact,
        q37_minhash_pairs,
    )

    budgets = {
        # r11: +1 deliberate id-keyed exchange that shares the signature
        # kernel across the self-join sides (kernel evaluated once —
        # pinned by test_minhash_pairs_single_kernel_evaluation); band
        # shuffle + pair agg unchanged; 3 BHJ, no BNL
        q37_minhash_pairs: 3,
        q69_contamination_check: 4,
        q102_curation_pipeline: 2,  # fp dedup + source window; agg reuses
        q100_corpus_report: 2,
        q30_dedup_exact: 1,
        q101_knn_ivf_refined: 3,  # per-iter pos-agg + probe-side agg
        # capstone: dedup key + anonymity class window + shard ledger
        q200_governed_release: 3,
    }
    # eval family (round 6): the "corpus touched once" contracts —
    # q256 = per-score agg + tiny-window chain; q270 = ONE user-key
    # window shuffle + the output sort; q258 = bloom build + probe agg
    # chain with broadcast-only joins; q263 = edge distinct + pair agg
    # through the part key, degree joins broadcast
    from adhesive_spark.queries.eval_queries import (
        q256_roc_auc,
        q258_bloom_join_prefilter,
        q263_link_prediction,
        q270_feature_matrix,
    )

    budgets.update(
        {
            q256_roc_auc: 2,
            q258_bloom_join_prefilter: 5,
            # r12: +2 — the hub-filter join is merge-PINNED (part_deg
            # is corpus-scaled and replication-compressible; AQE's
            # compressed-size heuristic elected broadcast at the
            # 10 000× rung and the collect blew driver.maxResultSize —
            # the probe_minhash hazard class). Bench measured FASTER
            # post-pin (3.32 → 2.05 s min-of-3 at sf0.1).
            q263_link_prediction: 7,
            q270_feature_matrix: 2,
        }
    )
    for fn, budget in budgets.items():
        got = shuffle_exchange_count(fn(spark, sf))
        assert got <= budget, (
            f"{fn.__name__}: {got} shuffle exchanges, budget {budget} — "
            f"a new Exchange crept into the plan"
        )


def test_group_exact_sample_window_group_limit(spark, sf):
    """q114's rank<=k must compile to WindowGroupLimit (map-side local
    top-k before the shuffle) — without it the exchange carries the
    whole corpus instead of O(groups*k) rows."""
    from adhesive_spark.queries.curation_queries import q114_group_exact_sample

    plan = physical_plan(q114_group_exact_sample(spark, sf))
    assert "WindowGroupLimit" in plan


def test_fuzzy_name_join_is_blocked_hash_join(spark, sf):
    """q111's blocked Levenshtein join must be an equi hash join on the
    block key with the distance as residual — never a nested-loop over
    all name pairs."""
    from adhesive_spark.queries.pipeline_queries import q111_fuzzy_name_join

    df = q111_fuzzy_name_join(spark, sf)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    assert "BroadcastNestedLoop" not in plan


def test_lateral_topk_decorrelates_to_window_group_limit(spark, sf):
    """q125's correlated LATERAL LIMIT must decorrelate to a
    WindowGroupLimit (map-side per-key top-k) — never a per-outer-row
    re-execution or a nested loop."""
    from adhesive_spark.queries.relational import q125_lateral_topk

    df = q125_lateral_topk(spark, sf)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoop" not in plan


def test_plans_md_shuffle_ratchet(spark):
    """PLANS.md is a RATCHET, not just documentation — THREE plan
    properties per audited query, recomputed at the recorded scale
    factor, each failing CI on silent degradation:

    1. shuffles: Exchange count must not EXCEED the committed number;
    2. join strategy: SortMergeJoin count must not exceed the committed
       number (catches a BHJ silently flipping to SMJ, e.g. a broadcast
       threshold or statistics regression);
    3. nested loops: a query recorded BNL-free must stay BNL-free (a
       new BroadcastNestedLoop/Cartesian is the q34-class scale killer);
    4. output dtypes: every output column must be SCALAR-typed (no
       array/map/struct/binary) — the driver's hash canonicalizer
       crashes on list cells (pandas ``unhashable type: 'list'``, the
       r6 q141/q149 ERR class), so complex-typed output is a protocol
       violation for EVERY registered query, not a style choice.

    Any intentional plan change must regenerate PLANS.md
    (tools/plan_report.py) to move the ratchet."""
    from pyspark.sql import types as T
    import re
    from pathlib import Path

    import __spark_entry__ as entry_mod
    from tools.plan_report import plan_columns

    plans_md = Path(__file__).resolve().parents[1] / "PLANS.md"
    text = plans_md.read_text()
    m = re.search(r"Scale factor dir: `([^`]+)`", text)
    assert m, "PLANS.md missing scale-factor header"
    sf_dir = m.group(1)
    row_re = re.compile(
        r"^\| (q\w+) \| (\d+) \| (\d+) \| (\d+) \| (?:yes|-) \| (yes[^|]*|no) "
        r"\| [^|]* \| (YES|no) \|",
        re.M,
    )
    recorded = {
        row.group(1): {
            "shuffles": int(row.group(2)),
            "smj": int(row.group(4)),
            "bnl": row.group(5).strip() != "no",
            "dup_py": row.group(6) == "YES",
        }
        for row in row_re.finditer(text)
    }
    qs = entry_mod.queries()
    audited = sorted(qs, key=entry_mod._qnum)
    missing = [q for q in audited if q not in recorded]
    assert not missing, f"PLANS.md is stale — audited but unrecorded: {missing}"

    worse = {}
    complex_out = {}
    for name in audited:
        df = qs[name](spark, sf_dir)
        bad_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(
                f.dataType,
                (T.ArrayType, T.MapType, T.StructType, T.BinaryType),
            )
        ]
        if bad_cols:
            complex_out[name] = bad_cols
        got = plan_columns(df._jdf.queryExecution().executedPlan().toString())
        rec = recorded[name]
        if got["shuffles"] > rec["shuffles"]:
            worse[name] = ("shuffles", rec["shuffles"], got["shuffles"])
        elif got["smj"] > rec["smj"]:
            worse[name] = ("smj-flip", rec["smj"], got["smj"])
        elif got["bnl"] and not rec["bnl"]:
            worse[name] = ("new-BNL", False, True)
        elif got["dup_py"] and rec["dup_py"] is False:
            # a dup-free recording must stay dup-free: a duplicated
            # EvalPython node means a kernel silently re-evaluating
            # (the r11 q35 class)
            worse[name] = ("new-dupPy", False, True)
    assert not complex_out, (
        f"complex-typed output columns (driver canon crashes on these): "
        f"{complex_out} — flatten to strings (array_join / concat_ws)"
    )
    assert not worse, (
        f"plan regressions vs PLANS.md (property, recorded, now): {worse} — "
        "fix the plan or regenerate PLANS.md if intentional"
    )


def test_inverted_index_probe_bucket_pruned(spark, sf):
    """The persisted inverted-index probe must bucket-prune: the term
    IN filter selects a strict subset of buckets at the scan, and the
    result matches the full-scan q141 contract."""
    import re

    from adhesive_spark.queries.curation_queries import (
        q141_inverted_index,
        q149_inverted_index_persisted,
    )

    df = q149_inverted_index_persisted(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, f"no bucket pruning in probe plan:\n{plan}"
    assert int(m.group(1)) < int(m.group(2)), plan
    got = {
        r.token: (r.doc_freq, r.total_occurrences, r.posting_head)
        for r in df.collect()
    }
    want = {
        r.token: (r.doc_freq, r.total_occurrences, r.posting_head)
        for r in q141_inverted_index(spark, sf).collect()
    }
    assert got == want


def test_interval_overlap_join_no_nested_loop(spark, sf):
    """The interval-overlap join's whole point: the inequality predicate
    must ride a bucketed equi-join, never a BNL/cartesian plan."""
    from adhesive_spark.plans.explain import physical_plan

    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["q203_session_incident_overlap"](spark, sf)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_every_registered_query_is_plan_audited():
    """Coverage guard for the audit itself: the registered names must
    equal the PLANS.md row names. A registered query without a row
    would escape the shuffle ratchet, so adding a query REQUIRES adding
    its audit row; a row without a registered query means names were
    lost from the registry."""
    import re
    from pathlib import Path

    import __spark_entry__ as entry_mod

    text = (Path(__file__).resolve().parents[1] / "PLANS.md").read_text()
    rows = set(re.findall(r"^\| (q\d+\w*) \|", text, re.M))
    registered = set(entry_mod.queries())
    missing = sorted(registered - rows)
    assert not missing, f"registered but no PLANS.md row: {missing}"
    stale = sorted(rows - registered)
    assert not stale, f"PLANS.md row but no longer registered: {stale}"


def test_cap_manifest_matches_code():
    """The PLANS.md `cap` column is a MANIFEST, not prose: recompute
    the input-cap detection (tools/plan_report.input_caps — a source
    grep for id-upper-bound literals) and fail if PLANS.md disagrees —
    so a query gaining or losing an input cap must regenerate PLANS.md,
    and bench readers can always separate fixed-workload queries from
    sf-scaling ones."""
    import re
    from pathlib import Path

    from tools.plan_report import input_caps

    import __spark_entry__ as entry_mod

    text = (Path(__file__).resolve().parents[1] / "PLANS.md").read_text()
    row_re = re.compile(r"^\| (q\w+) \|(?:[^|]*\|){5}([^|]*)\|", re.M)
    recorded = {m.group(1): m.group(2).strip() for m in row_re.finditer(text)}
    fresh = input_caps(entry_mod.queries())
    mismatched = {
        q: (recorded.get(q), cap)
        for q, cap in fresh.items()
        if recorded.get(q) != cap
    }
    assert not mismatched, (
        f"PLANS.md cap column is stale (recorded, fresh): {mismatched} — "
        "regenerate with tools/plan_report.py"
    )


def test_knn_vectorized_single_kernel_evaluation(spark, sf):
    """The scoring kernel must appear EXACTLY ONCE in the final plan.
    Plain posexplode over the kernel column lets Catalyst's
    InferFiltersFromGenerate push a size(__sims)>0 filter below the
    exchange, re-evaluating the Arrow kernel over the whole corpus a
    second time (the r10 q35 2.27× regression, root-caused r11).
    posexplode_outer keeps one ArrowEvalPython; this pins it."""
    from adhesive_spark.queries.pipeline_queries import q35_knn_bruteforce

    df = q35_knn_bruteforce(spark, sf)
    df.collect()  # AQE: the FINAL plan is only known post-execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert final.count("ArrowEvalPython") == 1, final


@pytest.mark.parametrize(
    "plan, dup",
    [
        (
            "MapInArrow _decode(media_id#1L, payload#3)#9, [media_id#10L], false\n"
            "+- Exchange RoundRobinPartitioning(4)\n"
            "MapInArrow _decode(media_id#21L, payload#23)#29, [media_id#30L], false",
            True,
        ),
        (
            "ArrowEvalPython [_sig(base#5)#7], [pythonUDF0#30], 200\n"
            "+- Exchange hashpartitioning(id#1L, 4)\n"
            "ArrowEvalPython [_sig(base#15)#17], [pythonUDF0#31], 200",
            True,
        ),
        (
            "MapInPandas _synth(doc_id#1L)#2, [media_id#3L], false\n"
            "MapInArrow _decode(media_id#3L)#4, [media_id#5L], false\n"
            "ArrowEvalPython [_sig(base#6)#7], [pythonUDF0#8], 200",
            False,
        ),
        (
            "ArrowEvalPython [_sims(v#1)#2, _sims(v#3)#4], "
            "[pythonUDF0#5, pythonUDF1#6], 200",
            False,
        ),
    ],
    ids=["map-twice", "eval-twice", "distinct", "repeat-in-node"],
)
def test_dup_python_eval_on_canned_plans(plan, dup):
    """dupPy counts EvalPython nodes by UDF name and MapInPandas /
    MapInArrow nodes by batch-function name; a name repeated inside one
    node is one pass."""
    from tools.plan_report import dup_python_eval

    assert dup_python_eval(plan) is dup


def test_y4m_decode_runs_each_kernel_once(spark, sf):
    """q212 reads its decoded videos through one pass: the executed
    plan holds one ``_synth`` and one ``_decode`` map node (two uses of
    ``decoded`` ran each kernel twice, sharing only the exchange
    below them)."""
    from adhesive_spark.queries.pipeline_queries import q212_y4m_decode_real

    df = q212_y4m_decode_real(spark, sf)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split(
        "Initial Plan"
    )[0]
    assert final.count("MapInArrow _synth(") == 1, final
    assert final.count("MapInArrow _decode(") == 1, final


def test_minhash_pairs_single_kernel_evaluation(spark, sf):
    """The banded self-join must read ONE ReusedExchange at runtime so
    the signature kernel — the pipeline's most expensive stage —
    evaluates once, not once per join side (r11 fix: shared pre-join
    repartition on the band key; pre-AQE plans still print two
    EvalPython nodes, which is why this pin executes)."""
    from adhesive_spark.queries.pipeline_queries import q37_minhash_pairs

    df = q37_minhash_pairs(spark, sf)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert final.count("ArrowEvalPython") == 1, final
    assert "ReusedExchange" in final
