"""Golden tests ported 1:1 from the reference fixtures (FIXTURES.md F1-F7;
reference tests/factory.rs:11-78, src/jvm.rs:275-367, CompilerTest.java).
"""

import pytest
from pyspark.errors.exceptions.captured import AnalysisException

from adhesive_spark.errors import (
    CompileError,
    DdlParseError,
    UnknownFunctionError,
    UnsupportedTypeError,
)


@pytest.fixture(scope="module", autouse=True)
def table_t(sess):
    # F1: t(a BIGINT, b BIGINT) = [1..4] x [10..40]  (tests/factory.rs:17-21)
    df = sess.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "a long, b long"
    )
    df.createOrReplaceTempView("t")
    # F2: 6-row variant (examples/adhesive.rs:15-19)
    df6 = sess.createDataFrame(
        [(i, i * 10) for i in range(1, 7)], "a long, b long"
    )
    df6.createOrReplaceTempView("t6")
    yield


def test_f1_inline_multiply(sess):
    """tests/factory.rs:23-51 — inline body, golden [10,40,90,160]."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION f1(BIGINT, BIGINT) RETURNS BIGINT "
        "LANGUAGE PYTHON AS 'return arg0 * arg1'"
    )
    rows = sess.sql("SELECT f1(a, b) AS r FROM t ORDER BY r").collect()
    assert [r.r for r in rows] == [10, 40, 90, 160]


def test_f2_module_add(sess):
    """tests/factory.rs:53-75 — LANGUAGE CLASS analog via MODULE path;
    golden [11,22,33,44]. Module fn = operator.add (stdlib)."""
    sess.sql(
        'CREATE OR REPLACE FUNCTION f2(BIGINT, BIGINT) RETURNS BIGINT '
        'LANGUAGE MODULE AS "operator.add"'
    )
    rows = sess.sql("SELECT f2(a, b) AS r FROM t ORDER BY r").collect()
    assert [r.r for r in rows] == [11, 22, 33, 44]


def test_f2_projection_keeps_inputs(sess):
    """examples/adhesive.rs:37 — SELECT a, b, f(a,b) keeps input cols."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION fmul(BIGINT, BIGINT) RETURNS BIGINT "
        "LANGUAGE PYTHON AS 'return arg0 * arg1'"
    )
    rows = sess.sql("SELECT a, b, fmul(a, b) AS m FROM t6 ORDER BY a").collect()
    assert [(r.a, r.b, r.m) for r in rows] == [
        (i, i * 10, i * i * 10) for i in range(1, 7)
    ]


def test_f4_null_return(sess):
    """F4 (src/jvm.rs:332-356): body returning None → SQL NULLs, never 0."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION fnull(BIGINT, BIGINT) RETURNS BIGINT "
        "LANGUAGE PYTHON AS 'return None'"
    )
    rows = sess.sql("SELECT fnull(a, b) AS r FROM t").collect()
    assert len(rows) == 3 + 1
    assert all(r.r is None for r in rows)


def test_f5_runtime_exception_fails_query(sess):
    """F5 (FreaksOutExample.java:10-12): runtime raise → query-level failure,
    not NULLs (src/jvm.rs:316-330)."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION freaks(BIGINT, BIGINT) RETURNS BIGINT "
        "LANGUAGE PYTHON AS $$raise RuntimeError("
        '"Its ok to freak out sometimes")$$'
    )
    with pytest.raises(Exception, match="freak out"):
        sess.sql("SELECT freaks(a, b) FROM t").collect()


def test_f6_compile_failure(sess):
    """F6 (CompilerTest.java:34-45): syntax error fails at DDL time with
    diagnostics; nothing is registered."""
    with pytest.raises(CompileError, match="Can't compile"):
        sess.sql(
            "CREATE OR REPLACE FUNCTION broken(BIGINT) RETURNS BIGINT "
            "LANGUAGE PYTHON AS 'return ((('"
        )
    with pytest.raises(AnalysisException):
        sess.sql("SELECT broken(a) FROM t").collect()


def test_f7_unknown_module(sess):
    """F7 (src/jvm.rs:303-314): unknown class/module path errors at CREATE."""
    with pytest.raises(UnknownFunctionError):
        sess.sql(
            "CREATE OR REPLACE FUNCTION fake(BIGINT) RETURNS BIGINT "
            'LANGUAGE MODULE AS "adhesive_spark.example.FakeExample"'
        )


def test_inline_java_compiled_end_to_end(sess):
    """The reference's flagship path: LANGUAGE JAVA with inline source
    compiled at DDL time (tests/factory.rs:23-51, Compiler.java:34-59).
    Here the body implements Spark's UDF2 interface (the Spark-idiomatic
    ``extends Adhesive``+``compute(Row)``, example/BasicExample.java:6-18),
    javac-compiled and ADD JAR-loaded at CREATE; calls run wholly in the
    JVM — no Python worker in the execution path."""
    sess.sql(
        "CREATE FUNCTION jsrc(BIGINT, BIGINT) RETURNS BIGINT LANGUAGE JAVA "
        "AS $$ public class JMul implements "
        "org.apache.spark.sql.api.java.UDF2<Long, Long, Long> { "
        "  public Long call(Long a, Long b) { "
        "    return (a == null || b == null) ? null : a * b; } "
        "} $$"
    )
    # golden pin of the reference's basicCompileTest-style invocation
    got = [
        r.v
        for r in sess.sql(
            "SELECT jsrc(id, id + 1) AS v FROM RANGE(4) ORDER BY id"
        ).collect()
    ]
    assert got == [0, 2, 6, 12]


def test_language_class_resolves_compiled_class(sess):
    """LANGUAGE CLASS with a bare FQN (src/fusion.rs:45-50): register a
    class that IS loadable in the session — the jar a prior inline-JAVA
    CREATE injected — proving the classpath lookup path end-to-end (the
    reference's tests/factory.rs:53-75)."""
    from adhesive_spark.functions.factory import compile_java_body

    fqn = compile_java_body(
        sess.spark,
        "jneg",
        "public class JNeg implements "
        "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
        "  public Long call(Long a) { return a == null ? null : -a; } }",
    )
    sess.sql(
        f"CREATE FUNCTION jneg(BIGINT) RETURNS BIGINT LANGUAGE CLASS AS '{fqn}'"
    )
    got = [r.v for r in sess.sql("SELECT jneg(id) AS v FROM RANGE(3)").collect()]
    assert sorted(got) == [-2, -1, 0]


def test_inline_java_compile_error_diagnostics(sess):
    """Broken Java fails the CREATE with javac's diagnostics — the
    InstantiationException('Can't compile function') analog with logged
    errors (Compiler.java:46-52, basicFailCompileTest)."""
    with pytest.raises(CompileError, match="Can't compile function") as err:
        sess.sql(
            "CREATE FUNCTION jbad(BIGINT) RETURNS BIGINT LANGUAGE JAVA "
            "AS $$ public class JBad implements NoSuchInterface { } $$"
        )
    # javac's own message, not only the prefix
    assert "cannot find symbol" in str(err.value)
    assert "NoSuchInterface" in str(err.value)
    # no class keyword at all → the class-name extraction error
    # (src/util.rs:25-27 JavaCodeError parity)
    with pytest.raises(CompileError, match="class name"):
        sess.sql(
            "CREATE FUNCTION jbad2(BIGINT) RETURNS BIGINT LANGUAGE JAVA "
            "AS $$ int x = 1; $$"
        )
    # a class-path body still routes to the classpath lookup (and fails
    # there with the lookup error, since no such class is deployed)
    with pytest.raises(UnknownFunctionError):
        sess.sql(
            "CREATE FUNCTION jcls(BIGINT) RETURNS BIGINT LANGUAGE JAVA "
            "AS 'com.example.NoSuchUdf'"
        )


def test_strict_exact_signature(sess):
    """Signature::exact parity (src/fusion.rs:72): the reference rejects
    f1('a','b') at resolution. Spark resolves Python UDFs untyped, so
    STRICT enforces the declared signature at call time: matching calls
    succeed, implicitly-cast calls fail with a signature error."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION fstrict(BIGINT, BIGINT) RETURNS BIGINT "
        "DETERMINISTIC STRICT LANGUAGE PYTHON AS 'return arg0 + arg1'"
    )
    rows = sess.sql("SELECT fstrict(a, b) AS r FROM t ORDER BY r").collect()
    assert [r.r for r in rows] == [11, 22, 33, 44]
    with pytest.raises(Exception, match="exact signature"):
        sess.sql("SELECT fstrict('2', '3')").collect()
    # default (non-STRICT) keeps the documented relaxation: same call
    # runs on the raw values Spark hands over
    sess.sql(
        "CREATE OR REPLACE FUNCTION floose(BIGINT, BIGINT) RETURNS STRING "
        "DETERMINISTIC LANGUAGE PYTHON AS 'return str(arg0) + str(arg1)'"
    )
    assert sess.sql("SELECT floose('2', '3') AS r").collect()[0].r == "23"


def test_strict_deterministic_order_independent(sess):
    # both modifier orders must parse identically
    sess.sql(
        "CREATE OR REPLACE FUNCTION ford(BIGINT) RETURNS BIGINT "
        "STRICT DETERMINISTIC LANGUAGE PYTHON AS 'return arg0 + 1'"
    )
    assert sess.sql("SELECT ford(1) AS r").collect()[0].r == 2
    with pytest.raises(Exception, match="exact signature"):
        sess.sql("SELECT ford('x')").collect()


def test_strict_rejected_for_jvm_languages(sess):
    with pytest.raises(DdlParseError, match="STRICT"):
        sess.sql(
            "CREATE FUNCTION fsj(BIGINT) RETURNS BIGINT STRICT "
            "LANGUAGE CLASS AS 'com.example.X'"
        )


def test_unsupported_type(sess):
    """src/fusion.rs:83-90 — unsupported RETURNS type errors at DDL time."""
    with pytest.raises(UnsupportedTypeError):
        sess.sql(
            "CREATE OR REPLACE FUNCTION badtype(BIGINT) RETURNS FROG "
            "LANGUAGE PYTHON AS 'return 1'"
        )


def test_duplicate_without_replace(sess):
    sess.sql(
        "CREATE OR REPLACE FUNCTION dup1(BIGINT) RETURNS BIGINT "
        "LANGUAGE PYTHON AS 'return arg0'"
    )
    with pytest.raises(DdlParseError, match="already exists"):
        sess.sql(
            "CREATE FUNCTION dup1(BIGINT) RETURNS BIGINT "
            "LANGUAGE PYTHON AS 'return arg0'"
        )


def test_two_wrappers_share_one_function_record(spark):
    """Two AdhesiveSessions on one SparkSession see the same functions,
    because the session catalog is the only record of them: a plain
    re-CREATE through the second raises and leaves the first's body in
    place, and a DROP through the second removes a SQL function the
    first made."""
    from adhesive_spark import AdhesiveSession

    first, second = AdhesiveSession(spark), AdhesiveSession(spark)
    first.sql(
        "CREATE FUNCTION wrap_py(BIGINT) RETURNS BIGINT "
        "DETERMINISTIC LANGUAGE PYTHON AS 'return arg0 + 1'"
    )
    try:
        with pytest.raises(DdlParseError, match="already exists"):
            second.sql(
                "CREATE FUNCTION wrap_py(BIGINT) RETURNS BIGINT "
                "DETERMINISTIC LANGUAGE PYTHON AS 'return arg0 + 2'"
            )
        assert second.sql("SELECT wrap_py(1) AS v").collect()[0].v == 2
    finally:
        first.sql("DROP FUNCTION IF EXISTS wrap_py")
    first.sql("CREATE FUNCTION wrap_sql(a BIGINT) RETURNS BIGINT "
              "LANGUAGE SQL AS 'a * 3'")
    assert second.sql("SELECT wrap_sql(2) AS v").collect()[0].v == 6
    second.sql("DROP FUNCTION wrap_sql")
    with pytest.raises(AnalysisException):
        first.sql("SELECT wrap_sql(2)").collect()


#: Python values a STRICT argument of each declared type accepts (None:
#: the type is not checked).  Keys: every typemap name plus three
#: parametrised spellings.
_STRICT_ACCEPTS = {
    **dict.fromkeys(
        ["BIGINT", "LONG", "INT8", "INT", "INTEGER", "INT4", "SMALLINT",
         "TINYINT"], "int"),
    **dict.fromkeys(["FLOAT", "REAL", "DOUBLE", "DOUBLE PRECISION"], "float"),
    **dict.fromkeys(["VARCHAR", "STRING", "TEXT", "CHAR", "VARCHAR(10)"], "str"),
    **dict.fromkeys(["BOOLEAN", "BOOL"], "bool"),
    "DECIMAL(10,2)": "decimal",
    **dict.fromkeys(
        ["DATE", "TIMESTAMP", "BINARY", "BLOB", "BYTEA", "ARRAY<INT>"], None),
}


def _type_names():
    from adhesive_spark.functions.typemap import _SIMPLE

    return sorted(set(_SIMPLE) | {"DECIMAL(10,2)", "VARCHAR(10)", "ARRAY<INT>"})


@pytest.mark.parametrize("sql_type", _type_names())
def test_type_name_parse_and_strict_values(sql_type):
    """Every type name parses as a positional argument and as a named
    one, and STRICT either accepts exactly one kind of Python value for
    it or leaves it unchecked."""
    from decimal import Decimal

    from adhesive_spark.functions.ddl import parse_create_function
    from adhesive_spark.functions.factory import _strict_checker

    d = parse_create_function(
        f"CREATE FUNCTION f({sql_type}, x {sql_type}) RETURNS BIGINT AS '1'"
    )
    assert (d.arg_names, d.arg_types) == (["arg0", "x"], [sql_type, sql_type])
    samples = {"int": 7, "float": 1.5, "str": "s", "bool": True,
               "decimal": Decimal("1.25")}
    want = _STRICT_ACCEPTS[sql_type]
    check = _strict_checker(sql_type)
    if want is None:
        assert check is None
    else:
        assert {k for k, v in samples.items() if check(v)} == {want}


_BUILTIN_NAMED = {
    "PYTHON": "CREATE OR REPLACE FUNCTION abs(BIGINT) RETURNS BIGINT "
    "LANGUAGE PYTHON AS 'return 7'",
    "PANDAS": "CREATE OR REPLACE FUNCTION abs(BIGINT) RETURNS BIGINT "
    "LANGUAGE PANDAS AS 'return arg0 * 0 + 7'",
    "MODULE": "CREATE OR REPLACE FUNCTION abs(BIGINT) RETURNS BIGINT "
    'LANGUAGE MODULE AS "operator.neg"',
    "SQL": "CREATE OR REPLACE FUNCTION abs(a BIGINT) RETURNS BIGINT "
    "LANGUAGE SQL AS '7'",
    "JAVA": "CREATE OR REPLACE FUNCTION abs(BIGINT) RETURNS BIGINT "
    "LANGUAGE JAVA AS $$ public class AbsShadow implements "
    "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
    "public Long call(Long a) { return 7L; } } $$",
    "AGGREGATE": "CREATE OR REPLACE AGGREGATE FUNCTION abs(BIGINT) "
    "RETURNS BIGINT LANGUAGE PANDAS AS 'return 7'",
    "TABLE": "CREATE OR REPLACE FUNCTION abs(n BIGINT) RETURNS TABLE "
    "(i BIGINT) LANGUAGE PYTHON AS 'yield (7,)'",
}


@pytest.mark.parametrize("kind", sorted(_BUILTIN_NAMED))
def test_builtin_name_refused(sess, kind):
    """A function named like a Spark builtin is refused at CREATE for
    every kind, OR REPLACE included: the builtin keeps answering."""
    with pytest.raises(DdlParseError, match="builtin"):
        sess.sql(_BUILTIN_NAMED[kind])
    assert sess.sql("SELECT abs(-3) AS v").collect()[0].v == 3
    assert not sess.factory.exists("abs")


@pytest.mark.parametrize("sql_type", _type_names())
def test_sql_kind_accepts_every_type_name(sess, sql_type):
    """The SQL kind takes every type name the DDL parser and typemap
    accept, aliases such as TEXT, INT8 or DOUBLE PRECISION included."""
    from adhesive_spark.functions.typemap import sql_type_to_spark

    sess.sql(
        f"CREATE OR REPLACE FUNCTION tyid(x {sql_type}) RETURNS {sql_type} "
        "LANGUAGE SQL AS 'x'"
    )
    out = sess.sql("SELECT tyid(NULL) AS v")
    assert out.schema["v"].dataType == sql_type_to_spark(sql_type)
    assert out.collect()[0].v is None


def test_java_kind_accepts_type_alias(sess):
    """The JAVA kind's cast wrapper takes typemap aliases (INT8 is
    BIGINT)."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION jint8(INT8) RETURNS INT8 "
        "LANGUAGE JAVA AS $$ public class JInt8 implements "
        "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
        "public Long call(Long a) { return a + 1; } } $$"
    )
    assert sess.sql("SELECT jint8(20) AS v").collect()[0].v == 21


def test_type_matrix(sess):
    """M1: the wider RETURNS matrix implied by Adhesive.java:79-199."""
    cases = [
        ("INT", "return int(arg0) + 1", "SELECT tm(CAST(2 AS INT)) AS r", 3),
        ("DOUBLE", "return float(arg0) * 0.5", "SELECT tm(4.0) AS r", 2.0),
        ("STRING", "return str(arg0) + chr(33)", "SELECT tm('hi') AS r", "hi!"),
        ("BOOLEAN", "return arg0 > 1", "SELECT tm(2) AS r", True),
    ]
    for rt, body, q, expected in cases:
        sess.sql(
            f"CREATE OR REPLACE FUNCTION tm({rt if rt != 'STRING' else 'STRING'}) "
            f"RETURNS {rt} LANGUAGE PYTHON AS '{body}'"
        )
        assert sess.sql(q).collect()[0].r == expected


def test_pandas_vectorized(sess):
    """M1 VECTORIZED variant: LANGUAGE PANDAS, Series-in/Series-out."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION vmul(BIGINT, BIGINT) RETURNS BIGINT "
        "LANGUAGE PANDAS AS 'return arg0 * arg1'"
    )
    rows = sess.sql("SELECT vmul(a, b) AS r FROM t ORDER BY r").collect()
    assert [r.r for r in rows] == [10, 40, 90, 160]


def test_sql_language_codegen_path(sess):
    """LANGUAGE SQL: Catalyst-native body, no Python at execution time."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION smul(a BIGINT, b BIGINT) RETURNS BIGINT "
        "LANGUAGE SQL AS 'a * b'"
    )
    rows = sess.sql("SELECT smul(a, b) AS r FROM t ORDER BY r").collect()
    assert [r.r for r in rows] == [10, 40, 90, 160]


def test_multiline_dollar_body(sess):
    """$$ bodies with statements (the reference's dead $$ path,
    src/fusion.rs:52-56, revived here)."""
    sess.sql(
        """CREATE OR REPLACE FUNCTION fizz(BIGINT) RETURNS STRING
        LANGUAGE PYTHON AS $$
if arg0 % 15 == 0:
    return "fizzbuzz"
if arg0 % 3 == 0:
    return "fizz"
if arg0 % 5 == 0:
    return "buzz"
return str(arg0)
$$"""
    )
    rows = sess.sql(
        "SELECT fizz(id) AS r FROM range(1, 16) ORDER BY id"
    ).collect()
    assert [r.r for r in rows] == [
        "1", "2", "fizz", "4", "buzz", "fizz", "7", "8", "fizz", "buzz",
        "11", "fizz", "13", "14", "fizzbuzz",
    ]


def test_named_args(sess):
    sess.sql(
        "CREATE OR REPLACE FUNCTION named(x BIGINT, y BIGINT) RETURNS BIGINT "
        "LANGUAGE PYTHON AS 'return x - y'"
    )
    assert sess.sql("SELECT named(10, 3) AS r").collect()[0].r == 7


def test_nondeterministic_default_plan(sess, spark):
    """§4.1 volatility parity: default registration must be nondeterministic
    so Catalyst cannot fold/collapse UDF calls (src/fusion.rs:72)."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION vol(BIGINT) RETURNS BIGINT "
        "LANGUAGE PYTHON AS 'return arg0'"
    )
    df = sess.sql("SELECT vol(5) AS r")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # A deterministic UDF over a literal would be constant-folded away;
    # the volatile one must survive in the plan.
    assert "vol" in plan


def test_array_and_map_return_types(sess):
    sess.sql(
        "CREATE OR REPLACE FUNCTION trange(BIGINT) RETURNS ARRAY<BIGINT> "
        "DETERMINISTIC LANGUAGE PYTHON AS 'return list(range(arg0))'"
    )
    rows = sess.sql("SELECT trange(3) AS r").collect()
    assert rows[0].r == [0, 1, 2]
    sess.sql(
        "CREATE OR REPLACE FUNCTION tmap(STRING) RETURNS MAP<STRING, BIGINT> "
        "DETERMINISTIC LANGUAGE PYTHON AS 'return {arg0: len(arg0)}'"
    )
    rows = sess.sql("SELECT tmap('abc') AS r").collect()
    assert rows[0].r == {"abc": 3}


def test_inline_java_body_cache(sess):
    """Identical inline bodies compile once: the second CREATE reuses the
    cached jar/FQN (the reference's one-compiled-instance-per-definition,
    src/jvm.rs:93-102) — re-running DDL in a loop must not pay javac."""
    from adhesive_spark.functions.factory import compile_java_body

    body = (
        "public class JCached implements "
        "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
        "  public Long call(Long a) { return a; } }"
    )
    f1 = compile_java_body(sess.spark, "c1", body)
    f2 = compile_java_body(sess.spark, "c2", body)
    assert f1 == f2


def test_drop_function_lifecycle(sess):
    """DROP FUNCTION completes the DDL lifecycle: dropped functions fail
    resolution, re-CREATE without OR REPLACE succeeds after a drop,
    IF EXISTS swallows the missing case, and a bare drop of a missing
    function errors. PYTHON, SQL and JAVA kinds."""
    sess.sql(
        "CREATE FUNCTION fdrop(BIGINT) RETURNS BIGINT "
        "DETERMINISTIC LANGUAGE PYTHON AS 'return arg0 + 1'"
    )
    assert [r.v for r in sess.sql("SELECT fdrop(1) AS v").collect()] == [2]
    sess.sql("DROP FUNCTION fdrop")
    with pytest.raises(Exception):
        sess.sql("SELECT fdrop(1)").collect()
    # re-CREATE without OR REPLACE must not hit the duplicate guard
    sess.sql(
        "CREATE FUNCTION fdrop(BIGINT) RETURNS BIGINT "
        "DETERMINISTIC LANGUAGE PYTHON AS 'return arg0 + 10'"
    )
    assert [r.v for r in sess.sql("SELECT fdrop(1) AS v").collect()] == [11]
    sess.sql("DROP FUNCTION IF EXISTS fdrop")
    sess.sql("DROP FUNCTION IF EXISTS fdrop")  # second is a no-op
    # unknown name falls through to Spark, which raises its own error
    with pytest.raises(Exception):
        sess.sql("DROP FUNCTION fdrop")
    # non-factory temp functions keep Spark's native DROP semantics
    sess.spark.udf.register("fdrop_native", lambda x: x, "long")
    assert sess.sql("SELECT fdrop_native(5) AS v").collect()[0].v == 5
    sess.sql("DROP TEMPORARY FUNCTION fdrop_native")
    with pytest.raises(Exception):
        sess.sql("SELECT fdrop_native(5)").collect()
    # the same lifecycle for the Catalyst-native kinds: a SQL macro and
    # an inline JAVA class behind its CAST wrapper
    java = (
        "LANGUAGE JAVA AS $$ public class FDropJ implements "
        "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
        "  public Long call(Long a) { return a + %d; } } $$"
    )
    for kind, body_1, body_2 in (
        ("SQL", "LANGUAGE SQL AS 'a + 1'", "LANGUAGE SQL AS 'a + 10'"),
        ("JAVA", java % 1, java % 10),
    ):
        sess.sql(f"CREATE FUNCTION fdrop(a BIGINT) RETURNS BIGINT {body_1}")
        assert sess.sql("SELECT fdrop(1) AS v").collect()[0].v == 2, kind
        sess.sql("DROP FUNCTION fdrop")
        with pytest.raises(Exception):
            sess.sql("SELECT fdrop(1)").collect()
        sess.sql(f"CREATE FUNCTION fdrop(a BIGINT) RETURNS BIGINT {body_2}")
        assert sess.sql("SELECT fdrop(1) AS v").collect()[0].v == 11, kind
        sess.sql("DROP FUNCTION IF EXISTS fdrop")
        with pytest.raises(Exception):
            sess.sql("SELECT fdrop(1)").collect()


def test_drop_leaves_no_impl_registration(sess):
    """DROP FUNCTION removes every temporary function a CREATE
    registered, for all six factory kinds — including the hidden
    ``__adh_<name>_impl`` JVM UDF behind a JAVA function, which OR
    REPLACE overwrites rather than duplicates."""
    ddl = {
        "fleak_py": "CREATE FUNCTION fleak_py(BIGINT) RETURNS BIGINT "
        "LANGUAGE PYTHON AS 'return arg0'",
        "fleak_pd": "CREATE FUNCTION fleak_pd(BIGINT) RETURNS BIGINT "
        "LANGUAGE PANDAS AS 'return arg0'",
        "fleak_sql": "CREATE FUNCTION fleak_sql(a BIGINT) RETURNS BIGINT "
        "LANGUAGE SQL AS 'a'",
        "fleak_jv": "CREATE OR REPLACE FUNCTION fleak_jv(BIGINT) "
        "RETURNS BIGINT LANGUAGE JAVA AS $$ public class FLeakJ implements "
        "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
        "  public Long call(Long a) { return a; } } $$",
        "fleak_agg": "CREATE AGGREGATE FUNCTION fleak_agg(BIGINT) "
        "RETURNS BIGINT LANGUAGE PANDAS AS 'return int(arg0.sum())'",
        "fleak_tbl": "CREATE FUNCTION fleak_tbl(n BIGINT) "
        "RETURNS TABLE (i BIGINT) LANGUAGE PYTHON AS $$\n"
        "for i in range(int(n)):\n    yield (i,)\n$$",
    }

    def user_functions():
        return {
            r[0].split(".")[-1]
            for r in sess.sql("SHOW USER FUNCTIONS").collect()
        }

    before = user_functions()
    for sql in ddl.values():
        sess.sql(sql)
    sess.sql(ddl["fleak_jv"])  # OR REPLACE: still one impl
    created = user_functions() - before
    assert created == set(ddl) | {"__adh_fleak_jv_impl"}
    for name in ddl:
        sess.sql(f"DROP FUNCTION {name}")
    assert user_functions() == before


def test_inline_java_or_replace_changed_body(sess):
    """OR REPLACE of a JAVA function with a CHANGED body must dispatch to
    the new bytecode — guards the jar cache directory, keyed by the body's
    content hash, against serving a stale class, the Java-path twin of
    the reference's re-CREATE mangling guarantee (src/util.rs:20-36)."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION jver(BIGINT) RETURNS BIGINT LANGUAGE JAVA "
        "AS $$ public class JVer implements "
        "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
        "  public Long call(Long a) { return a + 100; } } $$"
    )
    assert sess.sql("SELECT jver(1) AS v").collect()[0].v == 101
    sess.sql(
        "CREATE OR REPLACE FUNCTION jver(BIGINT) RETURNS BIGINT LANGUAGE JAVA "
        "AS $$ public class JVer implements "
        "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
        "  public Long call(Long a) { return a + 200; } } $$"
    )
    assert sess.sql("SELECT jver(1) AS v").collect()[0].v == 201


def test_inline_java_same_body_two_names(sess):
    """Two functions CREATEd from the IDENTICAL Java body share one
    compiled jar (the jar cache directory) but register independently — both
    callable, and dropping one leaves the other live."""
    body = (
        "AS $$ public class JTwin implements "
        "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
        "  public Long call(Long a) { return a * 7; } } $$"
    )
    sess.sql(f"CREATE OR REPLACE FUNCTION jtwin_a(BIGINT) RETURNS BIGINT LANGUAGE JAVA {body}")
    sess.sql(f"CREATE OR REPLACE FUNCTION jtwin_b(BIGINT) RETURNS BIGINT LANGUAGE JAVA {body}")
    assert sess.sql("SELECT jtwin_a(3) AS v").collect()[0].v == 21
    assert sess.sql("SELECT jtwin_b(6) AS v").collect()[0].v == 42
    sess.sql("DROP FUNCTION jtwin_a")
    assert sess.sql("SELECT jtwin_b(2) AS v").collect()[0].v == 14


def test_java_declared_signature_coerces_args(sess):
    """Calls are coerced to the DECLARED signature (Signature::exact
    parity, src/fusion.rs:72): an INT literal passed to a BIGINT-declared
    JAVA UDF must be upcast BEFORE the UDF2<Long,..> call — without the
    CAST wrapper Spark hands the raw Integer over and the call throws
    ClassCastException at run time."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION jco(BIGINT, BIGINT) RETURNS BIGINT "
        "LANGUAGE JAVA AS $$ public class JCo implements "
        "org.apache.spark.sql.api.java.UDF2<Long, Long, Long> { "
        "  public Long call(Long a, Long b) { return a * b; } } $$"
    )
    # 2 and 3 parse as INT — the wrapper's CAST makes them Long
    assert sess.sql("SELECT jco(2, 3) AS v").collect()[0].v == 6
    # and a DOUBLE-typed call still coerces (truncating cast semantics)
    assert sess.sql("SELECT jco(CAST(2.9 AS DOUBLE), 2) AS v").collect()[0].v == 4


def test_create_aggregate_function(sess):
    """CREATE AGGREGATE FUNCTION … LANGUAGE PANDAS: the body runs as a
    real Catalyst GROUPED_AGG aggregate (pandas.Series per group → one
    scalar) and must match the native-expression twin exactly on
    integer-valued inputs."""
    sess.sql(
        "CREATE AGGREGATE FUNCTION aspan(BIGINT) RETURNS BIGINT "
        "LANGUAGE PANDAS AS 'return int(arg0.max() - arg0.min())'"
    )
    got = sess.sql(
        "SELECT a % 2 AS g, aspan(b) AS s FROM t6 GROUP BY a % 2 ORDER BY g"
    ).collect()
    want = sess.sql(
        "SELECT a % 2 AS g, MAX(b) - MIN(b) AS s FROM t6 "
        "GROUP BY a % 2 ORDER BY g"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # usable as a plain whole-table aggregate too
    assert sess.sql("SELECT aspan(b) AS s FROM t6").collect()[0]["s"] == 50


def test_aggregate_function_requires_pandas(sess):
    """AGGREGATE bodies see per-group Series — the scalar PYTHON row
    kernel cannot express that, so the DDL must reject it."""
    with pytest.raises(DdlParseError, match="LANGUAGE PANDAS"):
        sess.sql(
            "CREATE AGGREGATE FUNCTION aggbad(BIGINT) RETURNS BIGINT "
            "LANGUAGE PYTHON AS 'return 1'"
        )


def test_aggregate_function_or_replace(sess):
    """OR REPLACE must re-point the aggregate at the new body."""
    sess.sql(
        "CREATE OR REPLACE AGGREGATE FUNCTION atot(BIGINT) RETURNS BIGINT "
        "LANGUAGE PANDAS AS 'return int(arg0.sum())'"
    )
    assert sess.sql("SELECT atot(b) AS s FROM t6").collect()[0]["s"] == 210
    sess.sql(
        "CREATE OR REPLACE AGGREGATE FUNCTION atot(BIGINT) RETURNS BIGINT "
        "LANGUAGE PANDAS AS 'return int(arg0.count())'"
    )
    assert sess.sql("SELECT atot(b) AS s FROM t6").collect()[0]["s"] == 6


def test_create_table_function(sess):
    """CREATE FUNCTION … RETURNS TABLE (…): the body yields output-row
    tuples; the registration is a real Python UDTF usable in SQL
    LATERAL — the factory triad's table leg (scalar R1-R17 / AGGREGATE
    / TABLE)."""
    sess.sql(
        """
        CREATE OR REPLACE FUNCTION seq_to(n BIGINT)
        RETURNS TABLE (i BIGINT, sq BIGINT)
        LANGUAGE PYTHON AS $$
for i in range(int(n)):
    yield (i, i * i)
$$
        """
    )
    got = sess.sql(
        "SELECT t.* FROM t6, LATERAL seq_to(a) t WHERE a = 3 ORDER BY i"
    ).collect()
    assert [tuple(r) for r in got] == [(0, 0), (1, 1), (2, 4)]


def test_table_function_rejects_bad_forms(sess):
    with pytest.raises(DdlParseError, match="LANGUAGE PYTHON"):
        sess.sql(
            "CREATE FUNCTION tf_bad(BIGINT) RETURNS TABLE (x INT) "
            "LANGUAGE PANDAS AS 'return []'"
        )
    with pytest.raises(DdlParseError, match="AGGREGATE and RETURNS TABLE"):
        sess.sql(
            "CREATE AGGREGATE FUNCTION tf_bad2(BIGINT) RETURNS TABLE (x INT) "
            "LANGUAGE PYTHON AS 'return []'"
        )
    with pytest.raises(UnsupportedTypeError):
        sess.sql(
            "CREATE FUNCTION tf_bad3(BIGINT) RETURNS TABLE (x WIDGET) "
            "LANGUAGE PYTHON AS 'return []'"
        )


def test_drop_aggregate_and_table_functions(sess):
    """DROP FUNCTION must fully retire AGGREGATE and TABLE
    registrations (resolution fails afterwards) and a plain re-CREATE
    must then succeed — the same lifecycle contract the scalar path
    guarantees."""
    sess.sql(
        "CREATE AGGREGATE FUNCTION dlife_a(BIGINT) RETURNS BIGINT "
        "LANGUAGE PANDAS AS 'return int(arg0.sum())'"
    )
    sess.sql(
        "CREATE FUNCTION dlife_t(n BIGINT) RETURNS TABLE (i BIGINT) "
        "LANGUAGE PYTHON AS 'for i in range(int(n)):\n    yield (i,)'"
    )
    assert sess.sql("SELECT dlife_a(b) AS s FROM t6").collect()[0]["s"] == 210
    assert len(
        sess.sql("SELECT v.i FROM t6, LATERAL dlife_t(a) v").collect()
    ) == 21
    sess.sql("DROP FUNCTION dlife_a")
    sess.sql("DROP FUNCTION dlife_t")
    with pytest.raises(AnalysisException):
        sess.sql("SELECT dlife_a(b) FROM t6").collect()
    with pytest.raises(AnalysisException):
        sess.sql("SELECT v.i FROM t6, LATERAL dlife_t(a) v").collect()
    # plain re-CREATE (no OR REPLACE) succeeds after the drop
    sess.sql(
        "CREATE AGGREGATE FUNCTION dlife_a(BIGINT) RETURNS BIGINT "
        "LANGUAGE PANDAS AS 'return int(arg0.count())'"
    )
    assert sess.sql("SELECT dlife_a(b) AS s FROM t6").collect()[0]["s"] == 6


def test_udf_state_is_per_worker_not_shared(sess):
    """The documented semantic deviation from the reference, as a TESTED
    contract (factory.py:18-21): the reference holds ONE shared UDF
    instance per definition (src/jvm.rs:93-102 GlobalRef), so instance
    state is globally visible across every batch; Spark ships a
    cloudpickled COPY of the compiled function with every task, and each
    task unpickles its own, so closure/global state is per task copy (a
    reused worker process runs many tasks, each with a fresh copy).

    Proof shape: a counter UDF tagging each call with its worker PID and
    partition id, which together name one task's copy.  Per-task-copy
    semantics mean each copy's counter sequence is a dense 1..k over
    exactly that copy's rows, and with 32 partitions counter values
    REPEAT across copies (a single shared instance would yield globally
    unique 1..N)."""
    from collections import defaultdict

    sess.sql(
        "CREATE OR REPLACE FUNCTION tally(BIGINT) RETURNS STRING "
        "DETERMINISTIC LANGUAGE PYTHON AS '"
        "import os\n"
        "from pyspark import TaskContext\n"
        "st = globals().setdefault(\"_st\", {\"n\": 0})\n"
        "st[\"n\"] += 1\n"
        "return \":\".join(map(str, [os.getpid(), "
        "TaskContext.get().partitionId(), st[\"n\"]]))'"
    )
    df = sess.spark.range(0, 256, 1, 32).selectExpr("tally(id) AS tag")
    tags = [r.tag for r in df.collect()]
    assert len(tags) == 256
    per_copy = defaultdict(list)
    for t in tags:
        pid, part, n = t.split(":")
        per_copy[(pid, part)].append(int(n))
    # state never leaks across copies: every copy's counters are a
    # dense 1..k, each copy counted only its own rows
    for copy, ns in per_copy.items():
        assert sorted(ns) == list(range(1, len(ns) + 1)), (copy, sorted(ns)[:5])
    assert len({part for _, part in per_copy}) == 32
    # 32 task copies -> duplicated counter values across copies (the
    # observable difference from the reference's shared single instance,
    # which would never duplicate)
    all_ns = [n for v in per_copy.values() for n in v]
    assert len(set(all_ns)) < len(all_ns)


def _evict_java_body(body):
    """Force the next compile of ``body`` down the cold path: delete its
    published jar + sidecar from the jar cache directory. Returns the jar
    path. Only for a body this JVM has not loaded yet: Spark has no
    REMOVE JAR, and every later task re-fetches the session's jars."""
    import hashlib

    from adhesive_spark.functions.factory import (
        _JAVA_CLASS_NAME_RE,
        _jar_sidecar,
        _java_disk_cache_dir,
    )

    cls = _JAVA_CLASS_NAME_RE.search(body).group(1)
    digest = hashlib.sha256(body.encode()).hexdigest()[:12]
    jar = _java_disk_cache_dir() / f"{cls}-p{digest}.jar"
    jar.unlink(missing_ok=True)
    _jar_sidecar(jar).unlink(missing_ok=True)
    return jar


def _reset_disk_cache():
    import adhesive_spark.functions.factory as fac

    fac._JAVA_DISK_CACHE = None


def test_java_disk_cache_dir_private_mode(tmp_path, monkeypatch):
    """The jar cache feeds ADD JAR, so it must resolve to a per-user
    0700 directory (never the old world-shared /tmp/adhesive_java_cache
    a hostile local user could pre-own and seed — r10 ADVICE, high)."""
    import os
    import stat

    import adhesive_spark.functions.factory as fac

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    _reset_disk_cache()
    try:
        d = fac._java_disk_cache_dir()
        assert str(d).startswith(str(tmp_path / "xdg"))
        st = os.lstat(d)
        assert stat.S_ISDIR(st.st_mode)
        assert stat.S_IMODE(st.st_mode) == 0o700
        if hasattr(os, "getuid"):
            assert st.st_uid == os.getuid()
    finally:
        _reset_disk_cache()


def test_java_disk_cache_refuses_symlinked_dir(tmp_path, monkeypatch):
    """A pre-planted SYMLINK at the cache path (the classic sticky-/tmp
    redirect) is refused; resolution falls through to the uid-suffixed
    tempdir candidate instead of loading jars through the link."""
    import os

    import adhesive_spark.functions.factory as fac

    xdg = tmp_path / "xdg"
    xdg.mkdir()
    target = tmp_path / "attacker_controlled"
    target.mkdir()
    (xdg / "adhesive_java_cache").symlink_to(target)
    monkeypatch.setenv("XDG_CACHE_HOME", str(xdg))
    fake_tmp = tmp_path / "tmp"
    fake_tmp.mkdir()
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(fake_tmp))
    _reset_disk_cache()
    try:
        d = fac._java_disk_cache_dir()
        assert not os.path.islink(d)
        assert str(d).startswith(str(fake_tmp))
        uid = os.getuid() if hasattr(os, "getuid") else -1
        assert d.name == f"adhesive_java_cache-{uid}"
    finally:
        _reset_disk_cache()


def test_jar_integrity_sidecar(tmp_path):
    """_jar_integrity_ok: hit requires jar bytes == published sidecar
    sha256; tampered jar, tampered sidecar, or missing sidecar all read
    as a miss (recompile), never a load of unverified bytes."""
    import hashlib

    from adhesive_spark.functions.factory import _jar_integrity_ok, _jar_sidecar

    jar = tmp_path / "X-pabc.jar"
    jar.write_bytes(b"PK\x03\x04 fake jar bytes")
    assert not _jar_integrity_ok(jar)  # no sidecar yet
    _jar_sidecar(jar).write_text(hashlib.sha256(jar.read_bytes()).hexdigest())
    assert _jar_integrity_ok(jar)
    jar.write_bytes(b"PK\x03\x04 SWAPPED payload")  # planted jar
    assert not _jar_integrity_ok(jar)
    _jar_sidecar(jar).write_text("deadbeef")  # malformed sidecar
    assert not _jar_integrity_ok(jar)


def test_jar_publish_is_same_filesystem_rename(sess, monkeypatch):
    """Jar + sidecar publishes must be same-DIRECTORY renames: staging in
    the javac tempdir makes os.replace a cross-filesystem rename on
    tmpfs-/tmp boxes (cache under $XDG_CACHE_HOME) and raises EXDEV,
    failing every inline-JAVA compile (r11 ADVICE, high). Enforced by
    making any cross-directory os.replace raise EXDEV during a fresh
    compile+publish — the publish must still succeed."""
    import errno
    import os
    from pathlib import Path

    from adhesive_spark.functions.factory import (
        _jar_integrity_ok,
        compile_java_body,
    )

    body = (
        "public class JExdev implements "
        "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
        "  public Long call(Long a) { return a + 77; } }"
    )
    jar = _evict_java_body(body)

    real_replace = os.replace

    def same_dir_only(src, dst, *a, **kw):
        if Path(src).parent != Path(dst).parent:
            raise OSError(
                errno.EXDEV, "Invalid cross-device link", str(src), None, str(dst)
            )
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(os, "replace", same_dir_only)
    fqn = compile_java_body(sess.spark, "jexdev", body)
    assert fqn.endswith(".JExdev")
    assert _jar_integrity_ok(jar)
    # no staging litter left behind in the cache directory
    assert not list(jar.parent.glob(".tmp-*"))


def test_java_disk_cache_cross_process_hit(sess, monkeypatch):
    """The jar cache directory is the only record of compiled bodies: a
    body whose jar and sha256 sidecar are published there is loaded
    without compiling and without republishing, exactly as a fresh
    process finds a body an earlier one compiled."""
    import adhesive_spark.functions.factory as fac

    body = (
        "public class JDiskHit implements "
        "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
        "  public Long call(Long a) { return a - 5; } }"
    )
    jar = _evict_java_body(body)
    fqn = fac.compile_java_body(sess.spark, "jdisk", body)
    assert fac._jar_integrity_ok(jar)
    published = [(f.name, f.stat().st_ino, f.stat().st_mtime_ns)
                 for f in (jar, fac._jar_sidecar(jar))]

    def no_compile(*args):
        raise AssertionError("a published body must not be compiled again")

    monkeypatch.setattr(fac, "_compile_in_driver", no_compile)
    assert fac.compile_java_body(sess.spark, "jdisk", body) == fqn
    assert [(f.name, f.stat().st_ino, f.stat().st_mtime_ns)
            for f in (jar, fac._jar_sidecar(jar))] == published
    sess.sql(
        "CREATE OR REPLACE FUNCTION jdisk(BIGINT) RETURNS BIGINT "
        f"LANGUAGE JAVA AS $$ {body} $$"
    )
    assert sess.sql("SELECT jdisk(8) AS v").collect()[0].v == 3


def test_java_compile_leaves_no_workdir(sess, tmp_path, monkeypatch):
    """The compile's work directory is removed after a successful cold
    compile and after a failed one: nothing named adhesive_java_* is left
    in the temporary directory."""
    import tempfile

    from adhesive_spark.functions.factory import compile_java_body

    body = (
        "public class JNoLitter implements "
        "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
        "  public Long call(Long a) { return a + 3; } }"
    )
    _evict_java_body(body)  # resolves the jar cache before tempdir moves
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert compile_java_body(sess.spark, "jnolitter", body).endswith(".JNoLitter")
    assert not list(tmp_path.glob("adhesive_java_*"))
    with pytest.raises(CompileError, match="cannot find symbol"):
        compile_java_body(
            sess.spark, "jlitter", "public class JLitter implements Nope { }"
        )
    assert not list(tmp_path.glob("adhesive_java_*"))


def test_ddl_returns_empty_ok_frame(sess):
    """Every factory CREATE returns an empty relation whose only column
    is ``ok``."""
    for k in (1, 2):
        df = sess.sql(
            f"CREATE OR REPLACE FUNCTION fok{k}(BIGINT) RETURNS BIGINT "
            f"DETERMINISTIC LANGUAGE PYTHON AS 'return arg0 + {k}'"
        )
        assert df.columns == ["ok"]
        assert df.collect() == []
    assert sess.sql("SELECT fok1(1) + fok2(1) AS v").collect()[0].v == 5


def test_java_concurrent_cold_compiles(sess):
    """Threads CREATE new Java bodies at once through one session, two
    different bodies and each body twice; every function compiles and
    returns its own values."""
    from concurrent.futures import ThreadPoolExecutor

    def body(k):
        return (
            f"public class JPar{k} implements "
            "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
            f"  public Long call(Long a) {{ return a * {k}; }} }}"
        )

    for k in (3, 5):
        _evict_java_body(body(k))

    def create(fn):
        sess.sql(
            f"CREATE OR REPLACE FUNCTION jpar{fn}(BIGINT) RETURNS BIGINT "
            f"LANGUAGE JAVA AS $$ {body(fn[0])} $$"
        )

    names = ("3a", "5a", "3b", "5b")
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        list(pool.map(create, names))
    row = sess.sql(
        "SELECT jpar3a(7) AS a, jpar5a(7) AS b, jpar3b(7) AS c, jpar5b(7) AS d"
    ).collect()[0]
    assert tuple(row) == (21, 35, 21, 35)


def test_java_compiles_without_javac_binary(sess, monkeypatch):
    """The compile runs inside the driver JVM: a new body compiles with
    no javac executable reachable."""
    import shutil

    body = (
        "public class JNoBin implements "
        "org.apache.spark.sql.api.java.UDF1<Long, Long> { "
        "  public Long call(Long a) { return a - 9; } }"
    )
    _evict_java_body(body)
    monkeypatch.setattr(shutil, "which", lambda *a, **k: None)
    monkeypatch.setenv("PATH", "")
    sess.sql(
        "CREATE OR REPLACE FUNCTION jnobin(BIGINT) RETURNS BIGINT "
        f"LANGUAGE JAVA AS $$ {body} $$"
    )
    assert sess.sql("SELECT jnobin(10) AS v").collect()[0].v == 1
