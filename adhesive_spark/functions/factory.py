"""The function factory: compile a CREATE FUNCTION body and register it
as a Spark UDF.

This is the PySpark-native rebuild of the reference's ``JvmFunctionFactory``
(src/fusion.rs:22-80 + src/jvm.rs:111-167):

- reference compiles inline Java with an in-memory javac at DDL time
  (java/.../Compiler.java:34-59); we compile inline Python with
  ``compile()``/``exec()`` into a fresh, collision-free namespace
  (the analog of the random package-name mangling in src/util.rs:5-36).
- reference registers a ``ScalarUDF`` with ``Volatility::Volatile`` and an
  exact signature (src/fusion.rs:69-78); we register via
  ``spark.udf.register`` with ``asNondeterministic()`` by default.
- reference ships batches zero-copy over the Arrow C Data Interface
  (src/jvm.rs:183-219); Spark's Arrow-optimized Python UDF path
  (``useArrow=True``) is the same architecture over the executor↔worker
  Arrow IPC channel.  On local masters the worker daemon
  (``adhesive_spark.pyworker``) turns each Arrow argument column into
  Python values a column at a time, not value by value.
- reference constructs ONE instance per CREATE and reuses it for every
  batch (src/jvm.rs:93-102); our compiled function object is captured once
  at registration and shipped with every task, which unpickles its own
  (per-task copy, even in a reused worker — a documented semantic
  difference, SURVEY §7 risk 3).

Languages:

- ``PYTHON`` (default): body is the source of a function body whose
  positional parameters are the DDL argument names (``arg0…argN`` when the
  positional type-only form is used). A single expression is auto-wrapped
  in ``return (…)``. Row-at-a-time semantics = the reference's
  ``compute(Row)`` kernel (java/.../Adhesive.java:68-70), transported in
  Arrow batches.
- ``PANDAS``: vectorized upgrade — body sees ``pandas.Series`` args and
  must return a Series (or scalar broadcastable); registered as a
  ``pandas_udf``.
- ``MODULE``: body is a dotted import path ``pkg.mod.fn`` — the Python
  analog of ``LANGUAGE CLASS`` (src/fusion.rs:45-50).
- ``JAVA`` with an inline class body: compiled at DDL time inside the
  Spark driver JVM with the JDK's ``javax.tools`` compiler, jarred,
  ``ADD JAR``-loaded, and registered — the reference's flagship
  runtime-compilation path (src/fusion.rs:39-44,
  java/.../Compiler.java:34-59) with Spark's ``UDF1..22`` interface in
  place of ``extends Adhesive``.
- ``CLASS`` / ``JAVA`` with a class-path body: delegates to
  ``spark.udf.registerJavaFunction`` (requires the class on the Spark
  classpath, as the reference requires its fat jar, src/jvm.rs:52).
- ``SQL``: body is a SQL expression over the named args — registered by
  wrapping in a Catalyst-native way (no Python at execution time; the
  fastest path of all, whole-stage codegen applies).
"""

from __future__ import annotations

import decimal
import importlib
import re
import textwrap
import threading
import uuid
from functools import cached_property
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from adhesive_spark.errors import (
    CompileError,
    DdlParseError,
    UnknownFunctionError,
)
from adhesive_spark.functions.ddl import (
    FunctionDefinition,
    _split_top_level as _split_cols,
    parse_create_function,
)
from adhesive_spark.functions.typemap import sql_type_to_spark


def compile_python_body(
    name: str, arg_names: list[str], body: str
) -> Callable[..., Any]:
    """Compile an inline Python body into a callable.

    The namespace is fresh per call — the analog of the reference's random
    package prefix ``com.github.milenkovicm.generated.p<random>``
    (src/util.rs:7-11) that makes re-CREATE never collide.
    """
    params = ", ".join(arg_names)
    src_body = textwrap.dedent(body)
    # A bare expression (the common one-liner case) is wrapped in a return.
    try:
        compile(src_body.strip(), "<adhesive-expr>", "eval")
        src_body = f"return ({src_body.strip()})"
    except SyntaxError:
        pass
    fn_name = f"_adhesive_{name}_{uuid.uuid4().hex[:6]}"
    if not src_body.strip():
        src_body = "pass"
    src = f"def {fn_name}({params}):\n" + textwrap.indent(src_body, "    ")
    try:
        code = compile(src, f"<adhesive:{name}>", "exec")
    except SyntaxError as e:
        # Mirrors InstantiationException("Can't compile function") with
        # diagnostics (java/.../Compiler.java:46-52).
        raise CompileError(f"Can't compile function {name!r}: {e}") from e
    # Exec into an isolated dict; cloudpickle then serializes the function
    # BY VALUE to the executors (no importable module), which is exactly the
    # ship-the-compiled-object semantic of the reference (src/jvm.rs:155-164).
    ns: dict[str, Any] = {"__builtins__": __builtins__}
    exec(code, ns)
    return ns[fn_name]


def resolve_module_function(path: str) -> Callable[..., Any]:
    """Import ``pkg.mod.fn`` — the LANGUAGE CLASS lookup path analog
    (src/jvm.rs:63-109; unknown class tested at src/jvm.rs:303-314)."""
    if "." not in path:
        raise UnknownFunctionError(f"not a dotted path: {path!r}")
    mod_path, fn_name = path.rsplit(".", 1)
    try:
        mod = importlib.import_module(mod_path)
    except ImportError as e:
        raise UnknownFunctionError(f"cannot import module {mod_path!r}: {e}") from e
    try:
        fn = getattr(mod, fn_name)
    except AttributeError as e:
        raise UnknownFunctionError(
            f"module {mod_path!r} has no attribute {fn_name!r}"
        ) from e
    if not callable(fn):
        raise UnknownFunctionError(f"{path!r} is not callable")
    return fn


#: Shape of a classpath-resolvable JVM class name; anything else in a
#: JAVA/CLASS body is inline source, compiled at DDL time by
#: :func:`compile_java_body`.
_CLASS_PATH_RE = re.compile(r"^[A-Za-z_$][\w$]*(\.[A-Za-z_$][\w$]*)*$")

#: Same class-name extraction contract as the reference (src/util.rs:13-18).
_JAVA_CLASS_NAME_RE = re.compile(r"class\s+(\w+)")

#: Resolved-once cache-dir handle (the ownership probes below stat the
#: filesystem; no reason to repeat them per CREATE FUNCTION).
_JAVA_DISK_CACHE: "Path | None" = None


def _java_disk_cache_dir() -> "Path":
    """Per-user jar cache directory, created 0700 and trust-checked.

    The cache feeds ``ADD JAR`` — code loaded straight into the Spark
    JVM — so it must never be a world-shared /tmp path another local
    user could pre-create (sticky /tmp lets them own it) and seed with
    a jar for a known body digest. Resolution order:

    1. ``$XDG_CACHE_HOME/adhesive_java_cache`` (or
       ``~/.cache/adhesive_java_cache``),
    2. ``<tempdir>/adhesive_java_cache-<uid>``,

    each accepted only if, after ``mkdir`` + ``chmod 0700``, the path
    is a non-symlink directory owned by this uid with no group/other
    write bits. If neither location passes, fall back to a fresh
    process-private directory — the cross-process jar reuse is lost
    but nothing untrusted is ever loaded.
    """
    global _JAVA_DISK_CACHE
    if _JAVA_DISK_CACHE is not None:
        return _JAVA_DISK_CACHE
    import os
    import stat
    import tempfile
    from pathlib import Path

    uid = os.getuid() if hasattr(os, "getuid") else -1
    xdg = os.environ.get("XDG_CACHE_HOME")
    base = Path(xdg) if xdg else Path.home() / ".cache"
    candidates = [
        base / "adhesive_java_cache",
        Path(tempfile.gettempdir()) / f"adhesive_java_cache-{uid}",
    ]
    for d in candidates:
        try:
            d.mkdir(parents=True, exist_ok=True)
            # chmod fails with EPERM if another user owns the path —
            # exactly the planted-directory case we must refuse.
            os.chmod(d, 0o700)
            st = os.lstat(d)
            if (
                stat.S_ISDIR(st.st_mode)
                and (uid == -1 or st.st_uid == uid)
                and not (st.st_mode & (stat.S_IWGRP | stat.S_IWOTH))
            ):
                _JAVA_DISK_CACHE = d
                return d
        except OSError:
            continue
    _JAVA_DISK_CACHE = Path(tempfile.mkdtemp(prefix="adhesive_java_cache_"))
    return _JAVA_DISK_CACHE


def _jar_sidecar(jar: "Path") -> "Path":
    return jar.with_name(jar.name + ".sha256")


def _jar_integrity_ok(jar: "Path") -> bool:
    """True iff the cached jar's bytes match its published sha256
    sidecar. A missing/short/mismatched sidecar reads as a cache MISS
    (recompile + republish), never an error — integrity failures cost a
    recompile, not a query."""
    import hashlib

    try:
        expected = _jar_sidecar(jar).read_text().strip()
        if len(expected) != 64:
            return False
        return hashlib.sha256(jar.read_bytes()).hexdigest() == expected
    except OSError:
        return False


class _DriverJavac:
    """The JDK's ``javax.tools`` compiler inside the Spark driver JVM,
    reached over py4j — the reference's in-JVM compile
    (java/.../Compiler.java:34-59).

    One ``JavaCompiler`` and one ``StandardJavaFileManager`` serve every
    compile, so the classpath jars are indexed once per JVM, not once per
    CREATE. py4j cannot call methods on the JDK's non-exported
    implementation classes (``com.sun.tools.javac.api.JavacTool``), so
    every call goes through ``Method`` objects of the exported
    ``javax.tools`` interfaces.
    """

    def __init__(self, gateway):
        jvm = gateway.jvm
        self.gateway = gateway
        self._jvm = jvm
        self._compiler = jvm.javax.tools.ToolProvider.getSystemJavaCompiler()
        if self._compiler is None:
            raise CompileError(
                "LANGUAGE JAVA: inline bodies need a JDK (the jdk.compiler "
                "module) in the Spark driver JVM; it runs on a JRE. Use "
                "LANGUAGE CLASS with a class already on the Spark classpath "
                "instead (SURVEY §4.1)."
            )
        compiler = jvm.java.lang.Class.forName("javax.tools.JavaCompiler")
        manager = jvm.java.lang.Class.forName("javax.tools.StandardJavaFileManager")
        task = jvm.java.lang.Class.forName("javax.tools.JavaCompiler$CompilationTask")
        self._set_location = self._method(
            manager, "setLocation", "javax.tools.JavaFileManager$Location",
            "java.lang.Iterable",
        )
        self._sources = self._method(
            manager, "getJavaFileObjectsFromFiles", "java.lang.Iterable"
        )
        self._get_task = self._method(
            compiler, "getTask", "java.io.Writer", "javax.tools.JavaFileManager",
            "javax.tools.DiagnosticListener", "java.lang.Iterable",
            "java.lang.Iterable", "java.lang.Iterable",
        )
        self._call = self._method(task, "call")
        self._manager = self._invoke(
            self._method(
                compiler, "getStandardFileManager",
                "javax.tools.DiagnosticListener", "java.util.Locale",
                "java.nio.charset.Charset",
            ),
            self._compiler, None, None, jvm.java.nio.charset.StandardCharsets.UTF_8,
        )
        # compile against the jars the driver itself loaded from
        class_path = jvm.java.lang.System.getProperty("java.class.path")
        self._invoke(
            self._set_location, self._manager,
            jvm.javax.tools.StandardLocation.CLASS_PATH,
            self._files(class_path.split(jvm.java.io.File.pathSeparator)),
        )

    def _method(self, cls, name: str, *param_types: str):
        types = self.gateway.new_array(self._jvm.java.lang.Class, len(param_types))
        for i, t in enumerate(param_types):
            types[i] = self._jvm.java.lang.Class.forName(t)
        return cls.getMethod(name, types)

    def _invoke(self, method, target, *args):
        arr = self.gateway.new_array(self._jvm.java.lang.Object, len(args))
        for i, a in enumerate(args):
            arr[i] = a
        return method.invoke(target, arr)

    def _files(self, paths):
        files = self._jvm.java.util.ArrayList()
        for p in paths:
            files.add(self._jvm.java.io.File(str(p)))
        return files

    def compile(self, source: "Path", out_dir: "Path") -> tuple[bool, str]:
        """Compile one source file into ``out_dir``; returns (success,
        javac's diagnostics). Not thread-safe: the caller holds
        ``_JAVAC_LOCK``."""
        self._invoke(
            self._set_location, self._manager,
            self._jvm.javax.tools.StandardLocation.CLASS_OUTPUT,
            self._files([out_dir]),
        )
        # no annotation processor from the classpath runs in the driver
        options = self._jvm.java.util.ArrayList()
        options.add("-proc:none")
        diagnostics = self._jvm.java.io.StringWriter()
        units = self._invoke(self._sources, self._manager, self._files([source]))
        task = self._invoke(
            self._get_task, self._compiler, diagnostics, self._manager, None,
            options, None, units,
        )
        ok = self._invoke(self._call, task)
        return bool(ok), diagnostics.toString()


#: The driver JVM's compiler, built on the first cold compile and rebuilt
#: only if the py4j gateway (hence the JVM) changes.
_JAVAC: _DriverJavac | None = None
#: Serialises compiles: the shared file manager is not thread-safe.
_JAVAC_LOCK = threading.Lock()


def _compile_in_driver(
    spark: SparkSession, source: "Path", out_dir: "Path"
) -> tuple[bool, str]:
    global _JAVAC
    gateway = spark.sparkContext._gateway
    with _JAVAC_LOCK:
        if _JAVAC is None or _JAVAC.gateway is not gateway:
            _JAVAC = _DriverJavac(gateway)
        return _JAVAC.compile(source, out_dir)


def compile_java_body(spark: SparkSession, name: str, body: str) -> str:
    """Compile an inline Java class body at DDL time and load it into the
    RUNNING session — the reference's flagship path (src/fusion.rs:39-44,
    java/.../Compiler.java:34-59) re-expressed for Spark:

    - the body is a complete class definition (no package line) that
      implements Spark's native ``org.apache.spark.sql.api.java.UDF1..22``
      — the Spark-idiomatic analog of ``extends Adhesive`` with a
      ``compute(Row)`` override (java/.../example/BasicExample.java:6-18);
    - the class name is regex-extracted and a content-hash package is
      prepended, so re-CREATE never collides (src/util.rs:20-36 parity);
    - compilation runs inside the Spark driver JVM with the JDK's
      ``javax.tools`` compiler, against the driver's own classpath, as the
      reference compiles inside its JVM (:class:`_DriverJavac`);
    - the compiled class is packaged as a jar and injected with SQL
      ``ADD JAR``, which registers it on the session classloader of every
      current and FUTURE executor — the cluster-correct load path;
    - the jar is published in the per-user cache directory under its
      content hash, and that directory is the only record of compiled
      bodies: a body whose jar is there with a matching sha256 sidecar
      is loaded without compiling, in this process or any later one (the
      reference's one compiled instance per definition,
      src/jvm.rs:93-102).

    Returns the fully-qualified class name to register.
    """
    import os
    import tempfile
    import zipfile
    from pathlib import Path

    m = _JAVA_CLASS_NAME_RE.search(body)
    if m is None:
        # JavaCodeError("Can't find class name") parity (src/util.rs:25-27)
        raise CompileError(f"Can't find class name in LANGUAGE JAVA body of {name!r}")
    cls = m.group(1)
    # Package mangling by CONTENT HASH (vs the reference's random id,
    # src/util.rs:20-36): different bodies still never collide, while the
    # identical body always maps to the identical FQN + jar — which is
    # what lets the compiled jar be reused across processes.
    import hashlib

    digest = hashlib.sha256(body.encode()).hexdigest()[:12]
    pkg = f"adhesive.generated.p{digest}"
    fqn = f"{pkg}.{cls}"
    disk_jar = _java_disk_cache_dir() / f"{cls}-p{digest}.jar"
    if _jar_integrity_ok(disk_jar):
        # ADD JAR is idempotent per session and arms a fresh one
        spark.sql(f"ADD JAR '{disk_jar}'")
        return fqn
    # Spark keys added jars by BASENAME: two bodies that happen to use the
    # same class name must not both produce "<cls>.jar", or the second
    # ADD JAR fails ("Failed to add ... to Spark environment") and poisons
    # later task deserialization — suffix with the mangled package id.
    # Stage under a '.tmp-<pid>-<thread>' name INSIDE the cache directory,
    # then publish with an atomic same-directory rename (concurrent
    # compiles of the same body converge on identical bytes, so
    # last-writer-wins is safe). Staging in the compile workdir would make
    # os.replace a cross-filesystem rename on tmpfs-/tmp boxes (the cache
    # lives under $XDG_CACHE_HOME) and raise EXDEV; a dot-prefixed name
    # unique per process and thread can never collide with a digest-keyed
    # cache entry or another publisher.
    stage = f".tmp-{os.getpid()}-{threading.get_ident()}-{disk_jar.name}"
    stage_jar = disk_jar.with_name(stage)
    with tempfile.TemporaryDirectory(prefix="adhesive_java_") as tmp:
        work = Path(tmp)
        source = work / f"{cls}.java"
        source.write_text(f"package {pkg};\n{body}\n", encoding="utf-8")
        classes = work / "classes"
        classes.mkdir()
        ok, diagnostics = _compile_in_driver(spark, source, classes)
        if not ok:
            # InstantiationException("Can't compile function") with logged
            # diagnostics parity (java/.../Compiler.java:46-52)
            raise CompileError(
                f"Can't compile function {name!r}:\n{diagnostics.strip()}"
            )
        with zipfile.ZipFile(stage_jar, "w") as zf:
            for f in sorted(classes.rglob("*.class")):
                zf.write(f, f.relative_to(classes))
    # Publish jar first, then its sha256 sidecar (also atomically): a
    # cache hit requires BOTH, so a half-published or corrupted entry
    # reads as a miss and recompiles instead of loading bad bytes.
    jar_sha = hashlib.sha256(stage_jar.read_bytes()).hexdigest()
    os.replace(stage_jar, disk_jar)
    stage_sha = disk_jar.with_name(f"{stage}.sha256")
    stage_sha.write_text(jar_sha)
    os.replace(stage_sha, _jar_sidecar(disk_jar))
    spark.sql(f"ADD JAR '{disk_jar}'")
    return fqn


def _strict_checker(sql_type: str):
    """Value predicate for one declared arg type, or None if the type is
    outside the strict matrix (then it's not checked)."""
    dt = sql_type_to_spark(sql_type)
    if isinstance(dt, T.DecimalType):
        return lambda v: isinstance(v, decimal.Decimal)
    if isinstance(dt, T.IntegralType):
        return lambda v: isinstance(v, int) and not isinstance(v, bool)
    if isinstance(dt, T.FractionalType):
        return lambda v: isinstance(v, float)
    if isinstance(dt, T.StringType):
        return lambda v: isinstance(v, str)
    if isinstance(dt, T.BooleanType):
        return lambda v: isinstance(v, bool)
    return None


def strict_wrap(name: str, fn: Callable, arg_types: list[str]) -> Callable:
    """Exact-signature enforcement (``Signature::exact``,
    src/fusion.rs:72): the reference rejects ``f1('a','b')`` at
    resolution; Spark resolves Python UDFs untyped and would happily
    pass coerced/raw values through. The earliest hook we own is the
    call itself, so STRICT functions validate every argument's runtime
    type against the DDL per row and fail the query with a signature
    error instead of computing on coerced values."""
    checks = [_strict_checker(t) for t in arg_types]
    sig = ", ".join(arg_types)

    def wrapper(*args):
        for i, (v, ok) in enumerate(zip(args, checks)):
            if v is None or ok is None or ok(v):
                continue
            raise TypeError(
                f"{name}: exact signature ({sig}) violated — argument {i} "
                f"is {type(v).__name__}; STRICT functions do not accept "
                f"implicit casts (reference Signature::exact)"
            )
        return fn(*args)

    return wrapper


def _strict_wrap_series(name: str, fn: Callable, arg_types: list[str]) -> Callable:
    """Vectorized strict twin: validates the first non-null element of
    each Arrow batch Series (one check per batch, not per row)."""
    checks = [_strict_checker(t) for t in arg_types]
    sig = ", ".join(arg_types)

    def wrapper(*series):
        for i, (s, ok) in enumerate(zip(series, checks)):
            if ok is None:
                continue
            nn = s.dropna()
            if len(nn) and not ok(nn.iloc[0].item() if hasattr(nn.iloc[0], "item") else nn.iloc[0]):
                raise TypeError(
                    f"{name}: exact signature ({sig}) violated — argument "
                    f"{i} batch holds {type(nn.iloc[0]).__name__}; STRICT "
                    f"functions do not accept implicit casts"
                )
        return fn(*series)

    return wrapper


def _java_impl_name(name: str) -> str:
    """Name of the JVM UDF behind the JAVA/CLASS function ``name``."""
    return f"__adh_{name}_impl"


class FunctionFactory:
    """Session-scoped factory — the ``FunctionFactory`` hook analog
    (src/fusion.rs:23-27 ``FunctionFactory::create``).

    It keeps no record of its own, as the reference's factory hands back
    ``RegisterFunction::Scalar`` and leaves the record to DataFusion's
    session registry (src/fusion.rs:78): every function it makes is a
    temporary function in the SparkSession's catalog, and that catalog
    alone says which functions exist.  Any number of factories on one
    SparkSession therefore agree."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    @cached_property
    def _function_identifier(self):
        # py4j resolves a class name one package at a time, a JVM round
        # trip each; resolve it once per factory, not once per lookup
        return self.spark._jvm.org.apache.spark.sql.catalyst.FunctionIdentifier

    def _catalog_ident(self, name: str):
        """(Spark session catalog, ``FunctionIdentifier`` of ``name``)."""
        ident = self._function_identifier.apply(name)
        return self.spark._jsparkSession.sessionState().catalog(), ident

    def exists(self, name: str) -> bool:
        """True iff ``name`` is a temporary function of the SparkSession,
        as every kind this factory makes is; builtins and persistent
        catalog functions are not."""
        catalog, ident = self._catalog_ident(name)
        return catalog.isTemporaryFunction(ident)

    def create_function(self, sql: str) -> None:
        d = parse_create_function(sql)
        catalog, ident = self._catalog_ident(d.name)
        if catalog.isBuiltinFunction(ident):
            # a temporary function of a builtin's name would shadow the
            # builtin for the Python kinds, and Spark refuses it for the
            # SQL kind; refuse it for every kind
            raise DdlParseError(
                f"function {d.name!r} is a Spark builtin; choose another name"
            )
        if not d.or_replace and catalog.isTemporaryFunction(ident):
            raise DdlParseError(
                f"function {d.name!r} already exists (use CREATE OR REPLACE)"
            )
        lang = d.language
        if d.returns_table:
            # RETURNS TABLE — the return "type" is an output column
            # list; validate each column's type instead of the whole
            for piece in _split_cols(d.return_type):
                sql_type_to_spark(piece.strip().split(None, 1)[-1])
            ret_type = None
        else:
            ret_type = sql_type_to_spark(d.return_type)
        # Validate arg types eagerly — exact-signature spirit (src/fusion.rs:72).
        for t in d.arg_types:
            sql_type_to_spark(t)
        if d.returns_table:
            if d.aggregate:
                raise DdlParseError(
                    "a function cannot be both AGGREGATE and RETURNS TABLE"
                )
            if lang != "PYTHON":
                raise DdlParseError(
                    "RETURNS TABLE requires LANGUAGE PYTHON (the body "
                    "yields output rows as tuples)"
                )
            fn = compile_python_body(d.name, d.arg_names, d.body)
            self._register_udtf(d, fn)
            return

        if d.strict and lang not in ("PYTHON", "PANDAS", "MODULE"):
            raise DdlParseError(
                "STRICT (exact-signature enforcement) is only supported for "
                "LANGUAGE PYTHON/PANDAS/MODULE — JVM-class and SQL-macro "
                "registrations resolve inside Catalyst, which applies its "
                "own coercion rules"
            )
        if d.aggregate:
            # CREATE AGGREGATE FUNCTION — factory-surface extension
            # beyond the reference (whose factory is scalar-only,
            # src/fusion.rs:78): the body sees pandas.Series per group
            # and returns one scalar, registered as a GROUPED_AGG
            # pandas UDF (a real Catalyst aggregate with partial
            # application over Arrow batches).
            if lang != "PANDAS":
                raise DdlParseError(
                    "CREATE AGGREGATE FUNCTION requires LANGUAGE PANDAS "
                    "(the body receives pandas.Series per group and "
                    "returns one scalar)"
                )
            fn = compile_python_body(d.name, d.arg_names, d.body)
            self._register_pandas_agg(d, fn, ret_type)
        elif lang == "PYTHON":
            fn = compile_python_body(d.name, d.arg_names, d.body)
            self._register_python(d, fn, ret_type, vectorized=False)
        elif lang == "PANDAS":
            fn = compile_python_body(d.name, d.arg_names, d.body)
            self._register_python(d, fn, ret_type, vectorized=True)
        elif lang == "MODULE":
            fn = resolve_module_function(d.body.strip())
            self._register_python(d, fn, ret_type, vectorized=False)
        elif lang in ("CLASS", "JAVA"):
            body = d.body.strip()
            if _CLASS_PATH_RE.match(body):
                # a bare FQN: the class must already be loadable
                # (src/fusion.rs:45-50, the LANGUAGE CLASS path)
                target = body
            else:
                # inline Java source — the reference's flagship path
                # (src/fusion.rs:39-44, tests/factory.rs:23-51): compile at
                # DDL time and load into the running session
                target = compile_java_body(self.spark, d.name, body)
            # registerJavaFunction takes only the RETURN type — Spark
            # hands the UDFn whatever type the call site has, so a
            # BIGINT-declared arg called with an INT literal would reach
            # UDF2<Long,..> as an Integer and ClassCastException at run
            # time.  The reference coerces calls to the declared exact
            # signature (Signature::exact, src/fusion.rs:72), so: register
            # the JVM impl under a mangled name and expose the declared
            # name as a Catalyst-native SQL wrapper that CASTs each arg —
            # inlined + codegen'd, zero overhead.  The impl name is
            # stable, so OR REPLACE overwrites it and DROP can find it.
            impl = _java_impl_name(d.name)
            try:
                self.spark.udf.registerJavaFunction(impl, target, ret_type)
            except Exception as e:  # Py4J wraps ClassNotFound etc.
                raise UnknownFunctionError(
                    f"cannot register JVM class {target!r}: {e}"
                ) from e
            casts = ", ".join(
                f"CAST({n} AS {sql_type_to_spark(t).simpleString()})"
                for n, t in zip(d.arg_names, d.arg_types)
            )
            self._create_sql_function(d, f"{impl}({casts})")
        elif lang == "SQL":
            try:
                self._create_sql_function(d, d.body)
            except Exception as e:
                raise CompileError(
                    f"Can't compile SQL function {d.name!r}: {e}"
                ) from e
        else:
            raise DdlParseError(f"unsupported LANGUAGE {lang!r}")

    def drop_function(self, name: str, *, if_exists: bool = False) -> None:
        """DROP FUNCTION [IF EXISTS] name — the lifecycle complement of
        the CREATE path: removes Spark's temporary function registrations
        (a JAVA function's impl included), so a later call fails
        resolution and a plain re-CREATE (no OR REPLACE) succeeds again.
        Spark's error for a missing name (without ``if_exists``) and any
        other failing DROP propagate."""
        guard = "IF EXISTS " if if_exists else ""
        self.spark.sql(f"DROP TEMPORARY FUNCTION {guard}{name}")
        # a JAVA/CLASS registration's JVM impl (an OR REPLACE may since
        # have switched the name to another language, so always drop it)
        self.spark.sql(
            f"DROP TEMPORARY FUNCTION IF EXISTS {_java_impl_name(name)}"
        )

    def _register_python(
        self,
        d: FunctionDefinition,
        fn: Callable,
        ret_type,
        *,
        vectorized: bool,
    ) -> None:
        if d.strict:
            fn = (
                _strict_wrap_series(d.name, fn, d.arg_types)
                if vectorized
                else strict_wrap(d.name, fn, d.arg_types)
            )
        if vectorized:
            udf = F.pandas_udf(fn, returnType=ret_type)
        else:
            # useArrow → Arrow-batched transport, the analog of the
            # reference's zero-copy C-FFI batches (src/jvm.rs:183-219).
            udf = F.udf(fn, returnType=ret_type, useArrow=True)
        if not d.deterministic:
            # Volatility::Volatile parity (src/fusion.rs:72): Catalyst must
            # not constant-fold or CSE calls.
            udf = udf.asNondeterministic()
        self.spark.udf.register(d.name, udf)

    def _register_udtf(self, d: FunctionDefinition, fn: Callable) -> None:
        """CREATE FUNCTION … RETURNS TABLE (…) — table-function DDL
        (factory extension: the reference factory is scalar-only,
        src/fusion.rs:78).  The compiled body runs per input row and
        yields (or returns an iterable of) output-row tuples; it is
        wrapped in a generated UDTF class and registered for SQL
        ``LATERAL`` use, completing the factory triad scalar (R1-R17) /
        AGGREGATE (q144) / TABLE."""
        from pyspark.sql.functions import udtf

        def _eval(_self, *args):
            out = fn(*args)
            if out is None:
                return
            yield from out

        cls = type(f"_Adhesive_{d.name}_udtf", (), {"eval": _eval})
        u = udtf(cls, returnType=d.return_type)
        self.spark.udtf.register(d.name, u)

    def _register_pandas_agg(
        self, d: FunctionDefinition, fn: Callable, ret_type
    ) -> None:
        if d.strict:
            fn = _strict_wrap_series(d.name, fn, d.arg_types)
        udf = F.pandas_udf(fn, ret_type, F.PandasUDFType.GROUPED_AGG)
        # No volatile default here: Catalyst REJECTS nondeterministic
        # expressions inside Aggregate nodes — the only place an
        # aggregate can appear — so AGGREGATE definitions are always
        # deterministic (documented deviation from the scalar default).
        self.spark.udf.register(d.name, udf)

    def _create_sql_function(self, d: FunctionDefinition, expr: str) -> None:
        """``CREATE OR REPLACE TEMPORARY FUNCTION`` ``d.name`` over the
        DDL's named arguments, returning the SQL expression ``expr``.
        Spark's SQL-body functions are Catalyst-native (inlined into the
        plan, fully codegen'd), so the SQL kind and the JAVA/CLASS cast
        wrapper cost nothing at run time.  Types are written as Spark
        spells them, so every name ``typemap`` accepts works here too."""
        args = ", ".join(
            f"{n} {sql_type_to_spark(t).simpleString()}"
            for n, t in zip(d.arg_names, d.arg_types)
        )
        ret = sql_type_to_spark(d.return_type).simpleString()
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {d.name}({args}) "
            f"RETURNS {ret} RETURN {expr}"
        )
