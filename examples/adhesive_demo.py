"""The reference's example program, re-expressed Spark-first — what a
user of milenkovicm/adhesive runs after switching engines
(examples/adhesive.rs:1-56, step for step).

The reference registers an in-memory Arrow batch and creates two
functions: an inline-source one (LANGUAGE JAVA — compiled at CREATE
inside the driver JVM by the JDK's javax.tools compiler, like the
reference's in-memory path, with a
LANGUAGE PYTHON twin showing the idiomatic inline body) and a
precompiled lookup (LANGUAGE CLASS there → LANGUAGE MODULE here).

Run: ``python examples/adhesive_demo.py``
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from adhesive_spark import AdhesiveSession, build_spark  # noqa: E402


def main() -> None:
    sess = AdhesiveSession(build_spark(app_name="adhesive-demo"))

    # examples/adhesive.rs:15-19 — in-memory table t(a BIGINT, b BIGINT)
    sess.createDataFrame(
        [(i, i * 10) for i in range(1, 7)], "a long, b long"
    ).createOrReplaceTempView("t")

    # examples/adhesive.rs:22-35 — the flagship inline-body function,
    # SAME path as the reference: Java source compiled at CREATE time
    sess.sql(
        """
        CREATE FUNCTION f1(BIGINT, BIGINT)
        RETURNS BIGINT
        LANGUAGE JAVA
        AS $$ public class Mul implements
              org.apache.spark.sql.api.java.UDF2<Long, Long, Long> {
                public Long call(Long a, Long b) {
                  return (a == null || b == null) ? null : a * b;
                }
              } $$
        """
    )
    sess.sql("SELECT a, b, f1(a, b) FROM t").show()

    # the idiomatic inline-body twin (no JVM compile round-trip)
    sess.sql(
        """
        CREATE FUNCTION f1py(BIGINT, BIGINT)
        RETURNS BIGINT
        LANGUAGE PYTHON
        AS 'return arg0 * arg1'
        """
    )
    sess.sql("SELECT a, b, f1py(a, b) FROM t").show()

    # examples/adhesive.rs:40-49 — precompiled-function lookup
    # (LANGUAGE CLASS "com...BasicExample" → MODULE "operator.mul")
    sess.sql(
        """
        CREATE FUNCTION f2(BIGINT, BIGINT)
        RETURNS BIGINT
        LANGUAGE MODULE
        AS "operator.mul"
        """
    )
    sess.sql("SELECT a, b, f2(a, b) FROM t").show()

    # Beyond the reference's scalar-only factory: the same DDL grammar
    # also creates AGGREGATE functions (GROUPED_AGG pandas UDF)...
    sess.sql(
        """
        CREATE AGGREGATE FUNCTION span(BIGINT)
        RETURNS BIGINT
        LANGUAGE PANDAS
        AS 'return int(arg0.max() - arg0.min())'
        """
    )
    sess.sql("SELECT a % 2 AS g, span(b) FROM t GROUP BY a % 2").show()

    # ...and TABLE functions (Python UDTF, SQL LATERAL)
    sess.sql(
        """
        CREATE FUNCTION divisors(n BIGINT)
        RETURNS TABLE (n BIGINT, d BIGINT)
        LANGUAGE PYTHON
        AS $$
for d in range(1, int(n) + 1):
    if n % d == 0:
        yield (n, d)
$$
        """
    )
    sess.sql(
        "SELECT v.* FROM t, LATERAL divisors(a) v WHERE a = 6"
    ).show()


if __name__ == "__main__":
    main()
