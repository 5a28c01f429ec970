"""Each DuckDB fragment in ``queries/oracle_fragments.py`` against its
Spark twin, value for value, on degenerate inputs; and a source scan
that keeps hand-written copies of the fragments out of the query
modules and the streaming operators."""

import re
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from adhesive_spark.operators import dedup, monitoring, similarity, text
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


def _duck(tables: dict, sql: str) -> list:
    """Rows of ``sql`` over DuckDB tables made from ``{name: (ddl, rows)}``."""
    con = duckdb.connect()
    for name, (ddl, rows) in tables.items():
        con.execute(f"CREATE TABLE {name} ({ddl})")
        con.executemany(
            f"INSERT INTO {name} VALUES ({', '.join('?' * len(rows[0]))})", rows
        )
    return con.execute(sql).fetchall()


# dim-4 vectors: zero, on hyperplane 0 and on hyperplane 3 (dot exactly
# 0.0, which sets the bit), all-negative, and mixed-sign
_PLANES = similarity._hyperplanes(4, 6, 42)
VECS = [
    [0.0, 0.0, 0.0, 0.0],
    [_PLANES[0][1], -_PLANES[0][0], 0.0, 0.0],
    [0.0, 0.0, _PLANES[3][3], -_PLANES[3][2]],
    [-1.5, -2.0, -0.25, -3.0],
    [0.5, -0.75, 2.0, -1e-9],
]


def test_lsh_bucket_equals_spark_twin(spark):
    rows = list(enumerate(VECS))
    duck = _duck(
        {"emb": ("id INTEGER, v DOUBLE[]", rows)},
        f"SELECT id, {frag._lsh_bucket('v', 4, 6)} FROM emb ORDER BY id",
    )
    df = spark.createDataFrame(rows, "id INT, v ARRAY<DOUBLE>")
    sp = df.orderBy("id").select(
        "id", similarity.lsh_bucket(F.col("v"), 4, n_planes=6)
    ).collect()
    assert [tuple(r) for r in sp] == duck
    # a dot of exactly 0.0 sets the bit
    assert duck[0][1] == 63 and duck[1][1] & 1 and duck[2][1] & 8


# one token, shorter than n = 3, empty, and a text with a repeated 3-gram
MH_TEXTS = ["word", "x y", "", "a b c d a b c e"]


def test_minhash_signature_equals_spark_twin(spark):
    rows = list(enumerate(MH_TEXTS))
    duck = _duck(
        {"documents": ("doc_id INTEGER, text VARCHAR", rows)},
        f"""WITH {frag._shingle_sets()},{frag._minhash_sig(64)}
        SELECT doc_id, list(s ORDER BY i) FROM sig GROUP BY doc_id
        ORDER BY doc_id""",
    )
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    base, _ = dedup.minhash_base_and_bands(df, num_perm=64, bands=16)
    sp = base.select("id", "sig").collect()
    assert sorted((i, list(sig)) for i, sig in sp) == duck


PAIR_TEXTS = [
    "the cat sat on the mat today",
    "the cat sat on the mat yesterday",
    "a dog sat on the mat today",
    "the cat sat on the mat today",
    "word",
    "word",
    "x y",
    "nothing here is shared with anyone",
]


@pytest.mark.parametrize("rare", [True, False])
def test_pair_counts_equal_spark_twins(spark, rare):
    rows = list(enumerate(PAIR_TEXTS))
    duck = _duck(
        {"documents": ("doc_id INTEGER, text VARCHAR", rows)},
        f"""WITH {frag._pair_counts(rare=rare)}
        SELECT id_a, id_b, round({frag._JACCARD}, 4) FROM c
        WHERE {frag._JACCARD} >= 0.1 ORDER BY 1, 2""",
    )
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    pairs = (
        dedup.ngram_jaccard_pairs(df, threshold=0.1)
        if rare
        else dedup.ppjoin_pairs(df, threshold=0.1)
    )
    sp = pairs.select("id_a", "id_b", "jaccard").orderBy("id_a", "id_b")
    assert [tuple(r) for r in sp.collect()] == duck
    assert (0, 3, 1.0) in duck and (4, 5, 1.0) in duck


def test_ivf_equals_spark_twins(spark):
    # corpus ids 10..29: centroids 10 and 11 are the same direction, so
    # every vector nearest to them ties and goes to 10
    corpus = [(10, [1.0, 0.0]), (11, [2.0, 0.0])] + [
        (i, [float(i % 5) - 2.0, float(i % 7) - 3.0]) for i in range(12, 30)
    ]
    queries = [(0, [1.0, 0.1]), (1, [-1.0, -1.0]), (2, [0.0, 1.0])]
    rows = queries + corpus
    duck = _duck(
        {"embeddings": ("vec_id INTEGER, embedding DOUBLE[]", rows)},
        f"""WITH {frag._ivf_ctes(3)}
        SELECT 'a', vec_id, centroid_id FROM assigned
        UNION ALL SELECT 'p', query_id, centroid_id FROM probes
        ORDER BY 1, 2, 3""",
    )
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    centroids, assigned = similarity.build_ivf_index(
        df.where("vec_id >= 10"), n_lists=16
    )
    probes = similarity._ivf_probes(
        df.where("vec_id < 10").withColumnRenamed("vec_id", "query_id"),
        centroids,
        3,
        "query_id",
        "embedding",
    )
    sp = sorted(
        [("a", r.vec_id, r.centroid_id) for r in assigned.collect()]
        + [("p", r.query_id, r.centroid_id) for r in probes.collect()]
    )
    assert sp == duck
    assert ("a", 11, 10) in duck


# (event_type, ts, value): a purchase at exactly midnight UTC opens its
# day; 2024-01-03 has only a click; one purchase predates 1970
EVENTS = [
    ("purchase", "2024-01-01 23:59:59.999999", 1.25),
    ("purchase", "2024-01-02 00:00:00", 2.5),
    ("purchase", "2024-01-02 12:30:00", 0.125),
    ("click", "2024-01-03 08:00:00", 9.0),
    ("purchase", "2024-01-04 00:00:00", 3.0),
    ("purchase", "1969-12-31 12:00:00", 4.0),
]


def test_daily_purchase_rev_equals_spark_twin(spark):
    duck = _duck(
        {"ev": ("event_type VARCHAR, ts_s VARCHAR, value DOUBLE", EVENTS)},
        f"""WITH events AS (
          SELECT event_type, CAST(ts_s AS TIMESTAMP) AS ts, value FROM ev
        ), {frag._DAILY_REV}
        SELECT day, rev FROM daily ORDER BY day""",
    )
    df = spark.createDataFrame(
        EVENTS, "event_type STRING, ts_s STRING, value DOUBLE"
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    sp = monitoring.daily_purchase_rev(df).orderBy("day").collect()
    assert [tuple(r) for r in sp] == duck
    assert duck == [(0, 400), (19723, 125), (19724, 263), (19726, 300)]


QUERIES = Path(frag.__file__).parent
STREAMING_OPS = QUERIES.parent / "streaming" / "ops.py"

# hand-written copies of a fragment: the whitespace-collapse regex of
# _norm (either spelling), the strpos hex alphabet, the ~4 chars/token
# division of _bpe, a word-shingle fallback, the MinHash permutation
# minimum, the shingle df-cap, a hyperplane literal build, the IVF
# assignment score, the daily purchase-revenue CTE, and one query
# module reaching into another for a twin
COPIES = {
    "whitespace-collapse regex": re.compile(r"\\\\s\+|\\s\+|\\\\?x0B"),
    "bpe division": re.compile(r"/\s*4\.0\)"),
    "hex alphabet": re.compile(r"0123456789abcdef"),
    "shingle fallback": re.compile(r"ELSE\s*\[\s*norm\s*\]\s*END"),
    "minhash minimum": re.compile(
        r"MIN\(\((?:\w+\.)?\w+\s*\*\s*(?:\w+\.)?a\s*\+\s*(?:\w+\.)?b\)"
    ),
    "shingle df-cap": re.compile(r"HAVING\s+COUNT\(\*\)\s*<=\s*1000"),
    "hyperplanes": re.compile(r"_hyperplanes\("),
    "ivf assignment": re.compile(r"list_cosine_similarity\(c\.v,\s*t\.cv\)"),
    "daily revenue CTE": re.compile(
        r"//\s*86400000000\s+AS\s+day,\s*"
        r"CAST\(SUM\(CAST\(ROUND\(value \* 100, 0\) AS BIGINT\)\) AS BIGINT\)"
        r"\s*AS rev\s*FROM events WHERE event_type = 'purchase'"
    ),
    "query-module import": re.compile(
        r"from\s+adhesive_spark\.queries\.\w+_queries\s+import"
        r"|from\s+\.\w+_queries\s+import"
    ),
}

# the Spark-side daily purchase-revenue series
# (operators.monitoring.daily_purchase_rev), in a query or a stream
DAILY_REV_SPARK = re.compile(
    r'div 86400000000"\)\.alias\("day"\),\s*'
    r'F\.expr\("CAST\(ROUND\(value \* 100, 0\) AS BIGINT\)"\)\.alias\(\s*'
    r'"cents"\s*\),\s*\)\s*\.groupBy\("day"\)'
)


def _query_modules(root: Path = QUERIES) -> list[Path]:
    return [p for p in sorted(root.glob("*.py")) if p.name != "oracle_fragments.py"]


def test_query_modules_use_the_fragments():
    found = [
        f"{path.name}: {what}"
        for path in _query_modules()
        for what, pat in COPIES.items()
        if pat.search(path.read_text())
    ]
    assert not found, found


def test_daily_revenue_series_written_once():
    found = [
        path.name
        for path in _query_modules() + [STREAMING_OPS]
        if DAILY_REV_SPARK.search(path.read_text())
    ]
    assert not found, found
