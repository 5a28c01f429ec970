"""Each DuckDB fragment in ``queries/oracle_fragments.py`` against its
Spark twin, value for value, on degenerate strings; and a source scan
that keeps hand-written copies of the fragments out of the query
modules."""

import re
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from adhesive_spark.operators import dedup, text
from adhesive_spark.queries import oracle_fragments as frag

INPUTS = [
    "",
    " ",
    "  \t\n ",
    "word",
    "x y",
    "MiXeD CaSe Words Here For Shingles And More",
    "ÜNÏCODE Straße",
    "tab\tseparated\nand\r\nnew lines\t\there",
    "le la les et",
    "que el la",  # fr and es tie at 2: the first language wins
    "the und",  # en and de tie at 1
    "WOW!!! THIS, IS; GREAT?! BUY: NOW. the and of",
    "a\x0bb",  # a vertical tab: in Java's \s, not in RE2's
]

# fragment SQL over ``text``/``toks`` -> Spark twin over a text column
TWINS = {
    "norm": (frag._NORM, text.normalize_text),
    "toks": (frag._TOKS, text.tokens),
    "fp": (frag._FP, text.fingerprint),
    "bpe": (frag._BPE, text.token_estimate_bpe),
    "h32": (frag._h32("md5(text)"), dedup.portable_hash32),
    "hex_9_4": (
        frag._hex_int("md5(text)", 9, 4),
        lambda c: F.conv(F.substring(F.md5(c), 9, 4), 16, 10).cast("long"),
    ),
    "lang": (frag._lang_sql(), text.lang_id),
    "stop": (frag._STOP_RATIO, text.stopword_ratio),
    "punct": (frag._PUNCT_RATIO, text.punct_ratio),
    "upper": (frag._UPPER_RATIO, text.uppercase_ratio),
    "quality": (frag._quality_sql(), text.quality_score),
    "shingles3": (frag._shingles(3), lambda c: dedup.word_shingles(c, 3)),
    "shingles8": (frag._shingles(8), lambda c: dedup.word_shingles(c, 8)),
}


@pytest.fixture(scope="module")
def duck_rows():
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", list(enumerate(INPUTS)))
    cols = ", ".join(f"{sql} AS {name}" for name, (sql, _) in TWINS.items())
    return con.execute(
        f"SELECT {cols} FROM (SELECT *, {frag._TOKS} AS toks FROM docs) ORDER BY id"
    ).fetchall()


@pytest.fixture(scope="module")
def spark_rows(spark):
    df = spark.createDataFrame(list(enumerate(INPUTS)), "id INT, text STRING")
    cols = [twin(F.col("text")).alias(name) for name, (_, twin) in TWINS.items()]
    return df.orderBy("id").select(*cols).collect()


@pytest.mark.parametrize("name", list(TWINS))
def test_fragment_equals_spark_twin(name, duck_rows, spark_rows):
    i = list(TWINS).index(name)
    for s, d, row_spark in zip(INPUTS, duck_rows, spark_rows):
        got, want = d[i], row_spark[i]
        if name.startswith("shingles"):
            got, want = sorted(got), sorted(want)
        assert got == want, (name, s)


def test_norm_lowercases_dotted_capital_i_differently(spark):
    """A documented divergence of ``_norm`` from ``normalize_text``:
    Spark's ``lower`` is Java's ``toLowerCase``, which follows Unicode's
    special casing and maps U+0130 (İ) to two code points, ``i`` plus
    U+0307 (combining dot above); DuckDB's ``lower`` maps one code point
    to one and gives ``i``. The seeded corpora hold no U+0130, so the
    gap is pinned here rather than patched into ``_norm``."""
    s = "İstanbul"
    duck = duckdb.connect().execute(f"SELECT {frag._norm('?')}", [s]).fetchone()[0]
    df = spark.createDataFrame([(s,)], "text STRING")
    sp = df.select(text.normalize_text(F.col("text"))).first()[0]
    assert duck == "istanbul"
    assert sp == "i\u0307stanbul"


QUERIES = Path(frag.__file__).parent

# hand-written copies of a fragment: the whitespace-collapse regex of
# _norm (either spelling), the strpos hex alphabet, the ~4 chars/token
# division of _bpe, a word-shingle fallback, and one query module
# reaching into another for a twin
COPIES = {
    "whitespace-collapse regex": re.compile(r"\\\\s\+|\\s\+|\\\\?x0B"),
    "bpe division": re.compile(r"/\s*4\.0\)"),
    "hex alphabet": re.compile(r"0123456789abcdef"),
    "shingle fallback": re.compile(r"ELSE\s*\[\s*norm\s*\]\s*END"),
    "query-module import": re.compile(
        r"from\s+adhesive_spark\.queries\.\w+_queries\s+import"
        r"|from\s+\.\w+_queries\s+import"
    ),
}


def test_query_modules_use_the_fragments():
    found = [
        f"{path.name}: {what}"
        for path in sorted(QUERIES.glob("*.py"))
        if path.name != "oracle_fragments.py"
        for what, pat in COPIES.items()
        if pat.search(path.read_text())
    ]
    assert not found, found
