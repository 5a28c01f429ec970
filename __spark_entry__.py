"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke at sf0.001.
``queries()`` — every implemented operator (SURVEY §2.2 + extensions).
``oracle_sql()`` — DuckDB-equivalent SQL for every query.

Both come from ``adhesive_spark.queries.registry()``.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver's correctness gate hashes the FIRST 50 entries of queries()
# in dict-insertion order.  _reorder therefore fronts the queries with
# no fully-green row in any committed CORRECTNESS_r*.json (oldest query
# number first), so each round's window automatically rotates through
# the never-yet-verified backlog; _GRADE_FIRST is the static fallback
# (the round-6 window) used only if the history files are unreadable.
_GRADE_FIRST = [
    "q111_fuzzy_name_join",
    "q112_global_sales_opportunity",
    "q113_equidepth_histogram",
    "q114_group_exact_sample",
    "q115_gap_fill_interpolate",
    "q116_ppjoin_pairs",
    "q117_late_shipment_check",
    "q118_customer_distribution",
    "q119_top_supplier",
    "q120_discounted_revenue",
    "q121_nation_profit",
    "q122_weighted_sample",
    "q123_mad_outliers",
    "q124_top_p_sources",
    "q125_lateral_topk",
    "q126_temperature_mixture",
    "q127_cluster_blocked_neardup",
    "q128_winsorize",
    "q129_corpus_diff",
    "q130_boilerplate_spans",
    "q131_triangle_count",
    "q132_char_diversity",
    "q133_paragraph_dedup",
    "q134_vocab_growth",
    "q135_skew_profile",
    "q136_length_bucketing",
    "q137_important_parts",
    "q138_priority_shipping",
    "q139_supplier_part_counts",
    "q140_latency_bands",
    "q141_inverted_index",
    "q142_freq_spectrum",
    "q143_media_batch_plan",
    "q144_udf_pandas_aggregate",
    "q145_udf_table_function",
    "q146_rarity_score",
    "q147_leakage_safe_split",
    "q148_deletion_propagation",
    "q149_inverted_index_persisted",
    "q150_drift_monitor",
    "q151_hard_negatives",
    "q152_ann_recall",
    "q153_retrieval_mrr",
    "q154_minhash_persisted_probe",
    "q155_media_dedup",
    "q156_oov_rate",
    "q157_semantic_drift",
    "q158_embedding_qa",
    "q159_event_transitions",
    "q160_dup_cluster_sizes",
]


def _verified_queries() -> set[str]:
    """Names in the committed VERIFIED.json ledger (so rotation does not
    depend on the CORRECTNESS_r*.json round files being committed),
    unioned with every name that has a fully-green row in a committed
    round history file."""
    import json
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    seen: set[str] = set()
    try:
        with open(os.path.join(here, "VERIFIED.json")) as f:
            ledger = json.load(f)
        if isinstance(ledger, dict):
            seen.update(n for n in ledger.get("verified", []) if isinstance(n, str))
    except (OSError, ValueError):
        pass
    return seen | _last_green_rounds().keys()


def _last_green_rounds() -> dict[str, int]:
    """name -> HIGHEST round number whose committed CORRECTNESS_r*.json
    records a fully-green row. Queries green only via the VERIFIED.json
    ledger (no readable file) are absent — treated as round 0, i.e.
    oldest, by the post-coverage cycling below."""
    import glob
    import json
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for p in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(p) as f:
                d = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(d, dict):
            continue
        for name, row in d.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                last[name] = max(last.get(name, 0), rnd)
    return last


def _qnum(name: str) -> int:
    """The query number in a ``qNNN_...`` name (unnumbered names last)."""
    m = re.match(r"q(\d+)", name)
    return int(m.group(1)) if m else 10**9


def _reorder(d: dict) -> dict:
    """Rotate never-driver-verified queries into the graded first-50
    window, oldest query number first; verified queries follow in their
    registration order.

    Once the backlog is EMPTY (full-registry coverage, reached in round
    11), rotation switches to a regression ratchet: the whole registry
    is ordered by the round each query last graded green (oldest
    first, query number as tiebreak), so every future round's graded
    window re-proves the 50 longest-unchecked queries against drift
    instead of grading nothing new. Each driver round then bumps its
    window to newest and the cycle self-advances."""
    verified = _verified_queries()
    if not verified:  # history unreadable — static round-5 fallback
        out = {k: d[k] for k in _GRADE_FIRST if k in d}
        out.update({k: v for k, v in d.items() if k not in out})
        return out

    backlog = sorted((k for k in d if k not in verified), key=_qnum)
    if not backlog:
        last = _last_green_rounds()
        return {
            k: d[k]
            for k in sorted(d, key=lambda k: (last.get(k, 0), _qnum(k)))
        }
    out = {k: d[k] for k in backlog}
    # verified tail in query-number order too: queries() and
    # oracle_sql() then agree positionally regardless of each module
    # dict's registration order
    for k in sorted((k for k in d if k not in out), key=_qnum):
        out[k] = d[k]
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary + factory UDF end-to-end
    on /root/testdata/sf0.001."""
    from adhesive_spark.queries.udf_queries import q23_udf_python_agg

    return q23_udf_python_agg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from adhesive_spark.queries import registry

    return _reorder(registry()[0])


def oracle_sql() -> dict[str, str]:
    from adhesive_spark.queries import registry

    return _reorder(registry()[1])
