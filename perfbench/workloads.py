"""Workload definitions: which queries a pass runs, and the seeded
CREATE FUNCTION stream of the DDL-churn workload.

Everything here is pure Python and starts nothing; ``worker.py`` drives it.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: Fixed-cost-bound panel of the bench.py HEADLINE set: the four-rung
#: UDF ladder, exact dedup (dedup and text operators) and brute-force kNN
#: (similarity).  A full 60-query headline pass takes about a minute on
#: four cores, longer than one benchmark run may last; the panel is kept
#: short enough for three or more measured passes, so that each query's
#: median has at least three samples.
HEADLINE_PANEL = (
    "q23_udf_python_agg",
    "q24_udf_vectorized",
    "q25_udf_sql_macro",
    "q84_udf_inline_java",
    "q30_dedup_exact",
    "q35_knn_bruteforce",
)

#: Row-bound panel: the factory's four execution paths over one lineitem
#: scan (row Python, pandas, Catalyst-inlined SQL, inline Java).
SCALE_PANEL = (
    "q23_udf_python_agg",
    "q24_udf_vectorized",
    "q25_udf_sql_macro",
    "q84_udf_inline_java",
)

#: UDF ladder rung -> the query whose wall time gives its rows/s.
LADDER = {
    "python": "q23_udf_python_agg",
    "pandas": "q24_udf_vectorized",
    "sql": "q25_udf_sql_macro",
    "java": "q84_udf_inline_java",
}

#: The ladder's CREATE statements, verbatim from the UDF queries.  The
#: query workloads re-issue them before every pass so CREATE latency is
#: measured on every workload; on a re-issue the Java body is a jar
#: cache hit.
LADDER_DDL = {
    "python": "CREATE OR REPLACE FUNCTION q23_disc(DOUBLE, DOUBLE) RETURNS "
    "DOUBLE DETERMINISTIC LANGUAGE PYTHON AS 'return arg0 * (1.0 - arg1)'",
    "pandas": "CREATE OR REPLACE FUNCTION q24_charge(DOUBLE, DOUBLE, DOUBLE) "
    "RETURNS DOUBLE DETERMINISTIC LANGUAGE PANDAS AS "
    "'return arg0 * (1.0 - arg1) * (1.0 + arg2)'",
    "sql": "CREATE OR REPLACE FUNCTION q25_margin(price DOUBLE, disc DOUBLE, "
    "qty DOUBLE) RETURNS DOUBLE DETERMINISTIC LANGUAGE SQL AS "
    "'price * (1.0 - disc) - qty * 100.0'",
    "java": "CREATE OR REPLACE FUNCTION q84_cents(DOUBLE) RETURNS BIGINT "
    "DETERMINISTIC LANGUAGE JAVA AS $$ "
    "public class Q84Cents implements "
    "org.apache.spark.sql.api.java.UDF1<Double, Long> { "
    "  public Long call(Double p) { "
    "    return p == null ? null : Math.round(p * 100.0); } "
    "} $$",
}


@dataclass(frozen=True)
class Workload:
    name: str
    #: fixture directory name under the data root
    data: str
    #: queries one pass runs (empty for the DDL stream)
    panel: tuple[str, ...]
    #: measured passes even when they outlast ``--seconds``
    min_passes: int = 2


WORKLOADS = {
    w.name: w
    for w in (
        # after a single warm-up pass the JIT is still warming on the
        # headline's many short jobs: the median of three passes drops a
        # slow first one
        Workload("headline-sf0.1", "sf0.1", HEADLINE_PANEL, min_passes=3),
        # runs by name; BENCHMARK.json leaves it out (see README.md)
        Workload("scale-sf1", "sf1", SCALE_PANEL),
        # the first measured pass is still warming, as on the headline
        Workload("ddl-churn", "sf0.01", (), min_passes=3),
    )
}


def pass_order(rng: random.Random, panel: tuple[str, ...]) -> list[str]:
    """One pass over ``panel`` in a seeded order."""
    order = list(panel)
    rng.shuffle(order)
    return order


# --------------------------------------------------------------------------
# DDL churn
# --------------------------------------------------------------------------

#: (first, second) BIGINT arguments a generated function is called with;
#: the SQL spelling is used verbatim by both Spark and DuckDB.
_ARG_PAIRS = (
    ("l_orderkey", "l_partkey"),
    ("l_partkey", "l_suppkey"),
    ("l_orderkey", "CAST(l_linenumber AS BIGINT)"),
    ("l_suppkey", "CAST(l_quantity AS BIGINT)"),
)

#: Languages of one churn pass, with the number of CREATEs of each.
#: JAVA's three are one new body (javac runs) and two repeats.  A call's
#: time sorts SQL and JAVA (about 0.17 s at sf0.01) < PANDAS (0.3 s) <
#: PYTHON (0.4 s); with as many SQL+JAVA calls as PYTHON calls the
#: pooled median falls among the PANDAS calls rather than in the gap
#: between two groups, where it follows their extremes.
CHURN_MIX = (("PYTHON", 5), ("PANDAS", 6), ("SQL", 2), ("JAVA", 3))


@dataclass(frozen=True)
class DdlOp:
    """One CREATE OR REPLACE FUNCTION plus the checked call after it."""

    lang: str
    #: "cold" for a Java body not compiled before in this run, "hit" for a
    #: Java repeat, "" otherwise
    java: str
    ddl: str
    call: str
    #: DuckDB query giving the call's expected single row (s, n)
    oracle: str


def _expr(a: str, b: str, k1: int, k2: int, m: int) -> str:
    return f"(({a}) * {k1} + ({b}) * {k2}) % {m}"


def _java_body(cls: str, k1: int, k2: int, m: int) -> str:
    return (
        f"public class {cls} implements "
        "org.apache.spark.sql.api.java.UDF2<Long, Long, Long> { "
        "public Long call(Long a, Long b) { "
        f"return (a * {k1}L + b * {k2}L) % {m}L; }} }}"
    )


class DdlStream:
    """Seeded CREATE OR REPLACE FUNCTION stream over PYTHON, PANDAS, SQL
    and inline JAVA.  Every function computes ``(a*k1 + b*k2) % m`` over
    two BIGINT lineitem columns, so each call has an exact integer answer
    that DuckDB computes from the same expression."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"ddl-churn:{seed}")
        #: Java bodies compiled so far in this run: (class, k1, k2, m)
        self.java_pool: list[tuple[str, int, int, int]] = []
        self._n = 0

    def _op(self, lang: str, java: str = "") -> DdlOp:
        rng = self.rng
        self._n += 1
        name = f"churn_{lang.lower()}_{self._n % 2}"
        a, b = rng.choice(_ARG_PAIRS)
        if java == "hit":
            cls, k1, k2, m = rng.choice(self.java_pool)
        else:
            k1, k2, m = rng.randint(1, 97), rng.randint(1, 97), rng.randint(7, 1009)
            cls = f"Churn{self._n}K{k1}x{k2}m{m}"
        if lang == "PYTHON":
            ddl = (
                f"CREATE OR REPLACE FUNCTION {name}(BIGINT, BIGINT) RETURNS "
                f"BIGINT DETERMINISTIC LANGUAGE PYTHON AS "
                f"'return (arg0 * {k1} + arg1 * {k2}) % {m}'"
            )
        elif lang == "PANDAS":
            ddl = (
                f"CREATE OR REPLACE FUNCTION {name}(BIGINT, BIGINT) RETURNS "
                f"BIGINT DETERMINISTIC LANGUAGE PANDAS AS "
                f"'return (arg0 * {k1} + arg1 * {k2}) % {m}'"
            )
        elif lang == "SQL":
            ddl = (
                f"CREATE OR REPLACE FUNCTION {name}(a BIGINT, b BIGINT) "
                f"RETURNS BIGINT DETERMINISTIC LANGUAGE SQL AS "
                f"'(a * {k1} + b * {k2}) % {m}'"
            )
        else:
            if java == "cold":
                self.java_pool.append((cls, k1, k2, m))
            ddl = (
                f"CREATE OR REPLACE FUNCTION {name}(BIGINT, BIGINT) RETURNS "
                f"BIGINT DETERMINISTIC LANGUAGE JAVA AS "
                f"$$ {_java_body(cls, k1, k2, m)} $$"
            )
        call = f"SELECT SUM({name}({a}, {b})) AS s, COUNT(*) AS n FROM lineitem"
        oracle = f"SELECT SUM({_expr(a, b, k1, k2, m)}) AS s, COUNT(*) AS n FROM lineitem"
        return DdlOp(lang, java, ddl, call, oracle)

    def next_pass(self) -> list[DdlOp]:
        """One pass: CHURN_MIX's CREATEs in a seeded order, the new Java
        body always before its repeats."""
        langs = [lang for lang, n in CHURN_MIX for _ in range(n)]
        self.rng.shuffle(langs)
        ops = []
        java_seen = 0
        for lang in langs:
            if lang == "JAVA":
                ops.append(self._op(lang, "cold" if java_seen == 0 else "hit"))
                java_seen += 1
            else:
                ops.append(self._op(lang))
        return ops
