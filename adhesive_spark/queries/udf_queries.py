"""Queries exercising the CREATE FUNCTION factory end-to-end on real data
(the reference's flagship shape: projection/aggregation over a registered
UDF, tests/factory.rs:39 scaled up to the driver tables).

Functions are declared DETERMINISTIC where they are (Spark, unlike
DataFusion, rejects nondeterministic expressions inside aggregate
arguments — found during verification; reference semantics default to
volatile per src/fusion.rs:72 and stay available for projection).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from adhesive_spark.session import AdhesiveSession
from adhesive_spark.sources.registry import load_table


def _lineitem_view(spark, sf_dir) -> None:
    # Deliberately NOT repartitioned: the Arrow-pipelined Python UDF over
    # one 600k-row scan keeps the worker saturated; a round-robin
    # repartition (which also forces a local sort) costs more than the
    # fan-out buys at this row width. At cluster scale the input arrives
    # in many splits and parallelism is native.
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")


def _sess(spark: SparkSession) -> AdhesiveSession:
    # AdhesiveSession is a thin stateless wrapper; the SparkSession's
    # catalog is the only record of the functions, so re-wrapping per
    # query is free and every wrapper sees the same functions.
    return AdhesiveSession(spark)


def q23_udf_python_agg(spark, sf_dir):
    """Row-at-a-time Python UDF (Arrow transport) inside an aggregate."""
    sess = _sess(spark)
    sess.sql(
        "CREATE OR REPLACE FUNCTION q23_disc(DOUBLE, DOUBLE) RETURNS DOUBLE "
        "DETERMINISTIC LANGUAGE PYTHON AS 'return arg0 * (1.0 - arg1)'"
    )
    _lineitem_view(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               ROUND(SUM(q23_disc(l_extendedprice, l_discount)), 1) AS disc_rev,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
        """
    )


def q24_udf_vectorized(spark, sf_dir):
    """Vectorized pandas UDF (LANGUAGE PANDAS) — the scale path for
    Python compute: Arrow batches, columnar numpy ops."""
    sess = _sess(spark)
    sess.sql(
        "CREATE OR REPLACE FUNCTION q24_charge(DOUBLE, DOUBLE, DOUBLE) "
        "RETURNS DOUBLE DETERMINISTIC LANGUAGE PANDAS AS "
        "'return arg0 * (1.0 - arg1) * (1.0 + arg2)'"
    )
    _lineitem_view(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_linestatus,
               ROUND(AVG(q24_charge(l_extendedprice, l_discount, l_tax)), 2) AS avg_charge
        FROM lineitem GROUP BY l_linestatus
        """
    )


def q25_udf_sql_macro(spark, sf_dir):
    """LANGUAGE SQL function: inlined by Catalyst, zero Python at runtime —
    the fastest factory path (whole-stage codegen applies)."""
    sess = _sess(spark)
    sess.sql(
        "CREATE OR REPLACE FUNCTION q25_margin(price DOUBLE, disc DOUBLE, qty DOUBLE) "
        "RETURNS DOUBLE DETERMINISTIC LANGUAGE SQL AS "
        "'price * (1.0 - disc) - qty * 100.0'"
    )
    _lineitem_view(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_linestatus,
               COUNT(*) AS n_profitable,
               ROUND(SUM(q25_margin(l_extendedprice, l_discount, l_quantity)), 1) AS margin_sum
        FROM lineitem
        WHERE q25_margin(l_extendedprice, l_discount, l_quantity) > 0
        GROUP BY l_linestatus
        """
    )


def q84_udf_inline_java(spark, sf_dir):
    """Inline LANGUAGE JAVA (the reference's flagship runtime-compilation
    path, src/fusion.rs:39-44): body implements Spark's UDF1, compiled at
    CREATE inside the driver JVM by the JDK's javax.tools compiler, as in
    the reference, loaded via ADD JAR; execution is wholly JVM-side.
    Integer-cents quantization keeps the SUM order-independent and the
    oracle exact."""
    sess = _sess(spark)
    sess.sql(
        "CREATE OR REPLACE FUNCTION q84_cents(DOUBLE) RETURNS BIGINT "
        "DETERMINISTIC LANGUAGE JAVA AS $$ "
        "public class Q84Cents implements "
        "org.apache.spark.sql.api.java.UDF1<Double, Long> { "
        "  public Long call(Double p) { "
        "    return p == null ? null : Math.round(p * 100.0); } "
        "} $$"
    )
    _lineitem_view(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               SUM(q84_cents(l_extendedprice)) AS price_cents,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
        """
    )


def q144_udf_pandas_aggregate(spark, sf_dir):
    """CREATE AGGREGATE FUNCTION … LANGUAGE PANDAS end-to-end: a
    user-defined GROUPED_AGG (cents-exact revenue total — the body sums
    a pre-quantized BIGINT Series, so the result is order-independent
    and engine-exact) running as a real Catalyst aggregate with partial
    application, grouped by return flag.  Factory-surface extension
    beyond the reference's scalar-only factory (src/fusion.rs:78)."""
    sess = _sess(spark)
    sess.sql(
        "CREATE OR REPLACE AGGREGATE FUNCTION q144_revsum(BIGINT) "
        "RETURNS BIGINT LANGUAGE PANDAS AS 'return int(arg0.sum())'"
    )
    # Spark forbids mixing a GROUPED_AGG pandas UDF with built-in
    # aggregates in one Aggregate node — so the row count is a second
    # user-defined aggregate from the same factory
    sess.sql(
        "CREATE OR REPLACE AGGREGATE FUNCTION q144_rowcount(BIGINT) "
        "RETURNS BIGINT LANGUAGE PANDAS AS 'return int(arg0.count())'"
    )
    _lineitem_view(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               q144_revsum(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                 AS rev_cents,
               q144_rowcount(l_orderkey) AS n
        FROM lineitem GROUP BY l_returnflag
        """
    )


def q145_udf_table_function(spark, sf_dir):
    """CREATE FUNCTION … RETURNS TABLE end-to-end: a DDL-defined Python
    UDTF tokenizes documents via SQL LATERAL and the outer query
    aggregates its rows — the table leg of the factory triad.  Python
    row-at-a-time is the point here (parity with the UDTF execution
    model), so the input is a bounded doc slice; the vectorized twin of
    this op is q85's zero-shuffle chunker."""
    sess = _sess(spark)
    sess.sql(
        """
        CREATE OR REPLACE FUNCTION q145_words(doc_id BIGINT, txt STRING)
        RETURNS TABLE (doc_id BIGINT, idx INT, word STRING)
        LANGUAGE PYTHON AS $$
for i, w in enumerate((txt or "").split()):
    yield (doc_id, i, w)
$$
        """
    )
    from adhesive_spark.sources.registry import load_table

    load_table(spark, sf_dir, "documents").where(
        "doc_id < 150"
    ).createOrReplaceTempView("q145_docs")
    return spark.sql(
        """
        SELECT t.doc_id,
               COUNT(*) AS n_words,
               MIN(CASE WHEN t.idx = 0 THEN t.word END) AS first_word,
               COUNT(DISTINCT t.word) AS n_distinct
        FROM q145_docs d, LATERAL q145_words(d.doc_id, d.text) t
        GROUP BY t.doc_id
        """
    )


UDF_QUERIES = {
    "q23_udf_python_agg": q23_udf_python_agg,
    "q24_udf_vectorized": q24_udf_vectorized,
    "q25_udf_sql_macro": q25_udf_sql_macro,
    "q84_udf_inline_java": q84_udf_inline_java,
    "q144_udf_pandas_aggregate": q144_udf_pandas_aggregate,
    "q145_udf_table_function": q145_udf_table_function,
}

UDF_ORACLES = {
    "q145_udf_table_function": """
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE doc_id < 150
        ),
        w AS (
          SELECT doc_id, i - 1 AS idx, toks[i] AS word
          FROM t, LATERAL (
            SELECT unnest(range(1, len(toks) + 1)) AS i)
        )
        SELECT doc_id, COUNT(*) AS n_words,
               MIN(CASE WHEN idx = 0 THEN word END) AS first_word,
               COUNT(DISTINCT word) AS n_distinct
        FROM w GROUP BY doc_id
    """,
    "q144_udf_pandas_aggregate": """
        SELECT l_returnflag,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS rev_cents,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
    "q23_udf_python_agg": """
        SELECT l_returnflag,
               ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 1) AS disc_rev,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
    "q24_udf_vectorized": """
        SELECT l_linestatus,
               ROUND(AVG(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS avg_charge
        FROM lineitem GROUP BY l_linestatus
    """,
    "q25_udf_sql_macro": """
        SELECT l_linestatus,
               COUNT(*) AS n_profitable,
               ROUND(SUM(l_extendedprice * (1.0 - l_discount) - l_quantity * 100.0), 1) AS margin_sum
        FROM lineitem
        WHERE l_extendedprice * (1.0 - l_discount) - l_quantity * 100.0 > 0
        GROUP BY l_linestatus
    """,
    # Math.round(p*100) == ROUND(p*100, 0) for positive prices (both round
    # half up); CASTs keep the SUM BIGINT (not HUGEINT) for the value hash.
    "q84_udf_inline_java": """
        SELECT l_returnflag,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT))
                    AS BIGINT) AS price_cents,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
}
