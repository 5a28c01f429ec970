"""Parser for the inline-body ``CREATE FUNCTION`` DDL.

Grammar (superset of the reference's, src/fusion.rs:22-58)::

    CREATE [OR REPLACE] [AGGREGATE] FUNCTION <name> ( [<arg> [, <arg>]*] )
        RETURNS <type> | TABLE ( <col> <type> [, <col> <type>]* )
        [DETERMINISTIC] [STRICT]        -- order-independent modifiers
        [LANGUAGE PYTHON | PANDAS | MODULE | CLASS | JAVA | SQL]
        AS '<body>' | $$<body>$$

    <arg> := <type> | <name> <type>

Notes on parity:

- The reference defaults a missing LANGUAGE clause to ``java``
  (src/fusion.rs:31-35); we default to ``PYTHON`` (our idiomatic analog) and
  accept ``JAVA`` as an alias of ``CLASS`` when the body is a class path.
- The reference marks every function ``Volatility::Volatile``
  (src/fusion.rs:72): no constant folding / CSE. We preserve that default;
  ``DETERMINISTIC`` opts out.
- The reference registers ``Signature::exact`` (src/fusion.rs:72): calls
  whose argument types don't match the DDL are rejected at resolution.
  Spark resolves Python UDFs untyped, so by default calls are coerced —
  the documented relaxation (SURVEY §4.1). ``STRICT`` opts back into
  exact-signature enforcement (checked per batch at call time, the
  earliest hook Spark gives a Python UDF).
- Bodies are single-quoted literals with ``''`` escaping, or dollar-quoted
  ``$$ … $$`` (the reference's ``$$`` path is declared dead at
  src/fusion.rs:52-56 — we support it since we own the pre-parser).

Spark's SQL grammar has no inline-body CREATE FUNCTION, hence this
string-level pre-parser (SURVEY §7).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from adhesive_spark.errors import DdlParseError
from adhesive_spark.functions.typemap import TYPE_WORDS

_HEAD_RE = re.compile(
    r"""^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?(?P<agg>AGGREGATE\s+)?FUNCTION\s+
        (?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*
        \((?P<args>.*?)\)\s*
        RETURNS\s+(?P<ret>.+?)\s*
        (?P<mods>(?:(?:DETERMINISTIC|STRICT)\s+)*)
        (?:LANGUAGE\s+(?P<lang>[A-Za-z_]+)\s*)?
        AS\s+(?P<body>.+)\s*$""",
    re.I | re.X | re.S,
)

_CREATE_FN_PROBE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:AGGREGATE\s+)?FUNCTION\b", re.I
)

_ARG_RE = re.compile(r"^(?:(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s+)?(?P<type>.+)$", re.S)

@dataclass
class FunctionDefinition:
    """One parsed CREATE FUNCTION statement.  The factory registers the
    function from it and keeps nothing; the reference's
    ``FunctionDefinition`` also holds the raw DDL for serialization
    (src/fusion.rs:142-153), which this rebuild does not do.
    """

    name: str
    arg_names: list[str]
    arg_types: list[str]
    return_type: str
    language: str = "PYTHON"
    body: str = ""
    deterministic: bool = False
    strict: bool = False
    aggregate: bool = False
    returns_table: bool = False
    or_replace: bool = False


def is_create_function(sql: str) -> bool:
    """Cheap probe used by the session interceptor."""
    return bool(_CREATE_FN_PROBE.match(sql))


def _extract_body(text: str) -> str:
    """Extract the function body from the AS clause.

    Supports single-quoted literals (with '' escapes), double-quoted
    literals (reference uses them for class names, tests/factory.rs:57),
    and dollar-quoted $$…$$ blocks.
    """
    t = text.strip()
    if t.startswith("$$"):
        end = t.rfind("$$")
        if end <= 0:
            raise DdlParseError("unterminated $$ body")
        return t[2:end]
    for quote in ("'", '"'):
        if t.startswith(quote):
            # Scan for the closing quote, honoring doubled-quote escapes.
            out = []
            i = 1
            while i < len(t):
                c = t[i]
                if c == quote:
                    if i + 1 < len(t) and t[i + 1] == quote:
                        out.append(quote)
                        i += 2
                        continue
                    rest = t[i + 1 :].strip()
                    if rest and rest != ";":
                        raise DdlParseError(f"trailing content after body: {rest[:40]!r}")
                    return "".join(out)
                out.append(c)
                i += 1
            raise DdlParseError("unterminated quoted body")
    raise DdlParseError(
        "function body must be a quoted literal or $$…$$ block "
        "(reference: class name or class definition should be provided, src/fusion.rs:57)"
    )


def parse_create_function(sql: str) -> FunctionDefinition:
    stmt = sql.strip().rstrip(";").strip()
    m = _HEAD_RE.match(stmt)
    if not m:
        raise DdlParseError(f"cannot parse CREATE FUNCTION statement: {sql[:120]!r}")
    name = m.group("name")
    arg_names: list[str] = []
    arg_types: list[str] = []
    args_text = m.group("args").strip()
    if args_text:
        for i, piece in enumerate(_split_top_level(args_text)):
            am = _ARG_RE.match(piece.strip())
            if not am:
                raise DdlParseError(f"cannot parse argument: {piece!r}")
            aname, atype = am.group("name"), am.group("type").strip()
            # Positional form whose type has a space ("DOUBLE PRECISION"):
            # the "name" token is the type's first word.
            if aname is not None and aname.upper() in TYPE_WORDS:
                aname, atype = None, piece.strip()
            arg_names.append(aname or f"arg{i}")
            arg_types.append(atype)
    ret = m.group("ret").strip()
    # RETURNS TABLE (col TYPE, ...) — table-function form; return_type
    # then carries the OUTPUT COLUMN LIST (the udtf returnType string)
    returns_table = False
    tm = re.match(r"^TABLE\s*\((?P<cols>.+)\)$", ret, re.I | re.S)
    if tm:
        returns_table = True
        ret = tm.group("cols").strip()
    lang = (m.group("lang") or "PYTHON").upper()
    body = _extract_body(m.group("body"))
    # DETERMINISTIC and STRICT are order-independent modifiers.
    mods = (m.group("mods") or "").upper().split()
    return FunctionDefinition(
        name=name,
        arg_names=arg_names,
        arg_types=arg_types,
        return_type=ret,
        language=lang,
        body=body,
        deterministic="DETERMINISTIC" in mods,
        strict="STRICT" in mods,
        aggregate=bool(m.group("agg")),
        returns_table=returns_table,
        or_replace=bool(m.group("replace")),
    )


def _split_top_level(text: str) -> list[str]:
    """Split an argument list on commas not nested in <> or ()."""
    parts, depth, cur = [], 0, []
    for c in text:
        if c in "<(":
            depth += 1
        elif c in ">)":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    if cur:
        parts.append("".join(cur))
    return [p for p in (s.strip() for s in parts) if p]


_DROP_FN_PROBE = re.compile(
    r"^\s*DROP\s+FUNCTION\s+(?P<if_exists>IF\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
    re.I,
)


def is_drop_function(sql: str) -> bool:
    """Cheap probe used by the session interceptor."""
    return bool(_DROP_FN_PROBE.match(sql))


def parse_drop_function(sql: str) -> tuple[str, bool]:
    """(function_name, if_exists) from a DROP FUNCTION statement."""
    m = _DROP_FN_PROBE.match(sql)
    if m is None:
        raise DdlParseError(f"not a DROP FUNCTION statement: {sql!r}")
    return m.group("name"), bool(m.group("if_exists"))
