"""The query registry: every registered query and its DuckDB oracle."""

from __future__ import annotations


def registry() -> tuple[dict, dict]:
    """Import the 12 query modules and merge their ``*_QUERIES`` and
    ``*_ORACLES`` dicts, in module order and then each dict's own order.

    The imports run on call, not at package import, so importing the
    package stays light. A failing import propagates; a name registered
    twice, or a query without an oracle (or the reverse), raises."""
    from adhesive_spark.queries import (
        relational,
        udf_queries as udf,
        pipeline_queries as pipeline,
        advanced_queries as advanced,
        curation_queries as curation,
        scale_queries as scale,
        sketch_queries as sketch,
        eval_queries as eval_,
        training_queries as training,
        audit_queries as audit,
        metrology_queries as metrology,
        estimator_queries as estimator,
    )

    parts = [
        (relational.RELATIONAL_QUERIES, relational.RELATIONAL_ORACLES),
        (udf.UDF_QUERIES, udf.UDF_ORACLES),
        (pipeline.PIPELINE_QUERIES, pipeline.PIPELINE_ORACLES),
        (advanced.ADVANCED_QUERIES, advanced.ADVANCED_ORACLES),
        (curation.CURATION_QUERIES, curation.CURATION_ORACLES),
        (scale.SCALE_QUERIES, scale.SCALE_ORACLES),
        (sketch.SKETCH_QUERIES, sketch.SKETCH_ORACLES),
        (eval_.EVAL_QUERIES, eval_.EVAL_ORACLES),
        (training.TRAINING_QUERIES, training.TRAINING_ORACLES),
        (audit.AUDIT_QUERIES, audit.AUDIT_ORACLES),
        (metrology.METROLOGY_QUERIES, metrology.METROLOGY_ORACLES),
        (estimator.ESTIMATOR_QUERIES, estimator.ESTIMATOR_ORACLES),
    ]
    queries: dict = {}
    oracles: dict = {}
    for qs, os_ in parts:
        twice = (queries.keys() & qs.keys()) | (oracles.keys() & os_.keys())
        if twice:
            raise ValueError(f"query names registered twice: {sorted(twice)}")
        queries.update(qs)
        oracles.update(os_)
    if queries.keys() != oracles.keys():
        raise ValueError(
            f"queries without oracle: {sorted(queries.keys() - oracles.keys())}; "
            f"oracles without query: {sorted(oracles.keys() - queries.keys())}"
        )
    return queries, oracles


__all__ = ["registry"]
