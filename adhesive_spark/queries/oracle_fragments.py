"""DuckDB twins of the Spark operators that the oracles restate.

Each fragment is the one DuckDB spelling of a Spark-side operator. An
oracle that mirrors the operator calls the fragment and does not spell
it out, so a change to the operator has one fragment to follow it:

- ``_norm(expr)``, ``_NORM`` — ``operators.text.normalize_text``
- ``_TOKS`` — ``operators.text.tokens``
- ``_FP`` — ``operators.text.fingerprint``
- ``_bpe(norm, toks)``, ``_BPE`` — ``operators.text.token_estimate_bpe``
- ``_hex_int(hexpr, start, n)`` — ``conv(substring(hexpr, start, n), 16, 10)``
- ``_h32(hexpr)`` — ``operators.dedup.portable_hash32``
- ``_shingles(n, toks)`` — ``operators.dedup.word_shingles``
- ``_lang_sql(toks)`` — ``operators.text.lang_id_tokens`` (``lang_id``)
- ``_STOP_RATIO`` — ``operators.text.stopword_ratio``
- ``_PUNCT_RATIO`` — ``operators.text.punct_ratio``
- ``_UPPER_RATIO`` — ``operators.text.uppercase_ratio``
- ``_quality_sql()`` — ``operators.text.quality_score``
- ``_shingle_sets(where)`` — ``operators.dedup.word_shingles`` (n=3) per
  document
- ``_rare(x, out)`` — the ``max_shingle_df=1000`` cap of
  ``operators.dedup.ngram_jaccard_pairs``, ``containment_pairs`` and
  ``operators.curation.contamination_pairs``
- ``_pair_counts(where, rare)``, ``_JACCARD`` — the shared-shingle pair
  counts of ``operators.dedup.ngram_jaccard_pairs``, ``containment_pairs``
  and ``ppjoin_pairs``
- ``_PAIR_CTES`` — ``operators.dedup.ngram_jaccard_pairs`` plus the
  component closure (``operators.graph.connected_components``)
- ``_minhash_sig(num_perm, src, key, item)`` —
  ``operators.dedup.minhash_signature_kernel``
- ``_lsh_bucket(vexpr, dim, n_planes)`` — ``operators.similarity.lsh_bucket``
- ``_ivf_ctes(n_probe)`` — ``operators.similarity.build_ivf_index``
  (``_nearest_centroid``) and ``_ivf_probes``
- ``_DAILY_REV`` — ``operators.monitoring.daily_purchase_rev``
"""

from __future__ import annotations

from adhesive_spark.operators.dedup import _MERSENNE, _perm_coeffs
from adhesive_spark.operators.similarity import _hyperplanes
from adhesive_spark.operators.text import LANG_MARKERS, STOPWORDS_EN


def _norm(expr: str) -> str:
    """Lowercase, whitespace-collapse and trim the string ``expr``. The
    class is Java's ``\\s`` written out: RE2's ``\\s`` lacks the
    vertical tab."""
    return f"trim(regexp_replace(lower({expr}), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"


_NORM = _norm("text")
_TOKS = f"string_split({_NORM}, ' ')"
_FP = f"md5({_NORM})"


def _bpe(norm: str = _NORM, toks: str = _TOKS) -> str:
    """BPE-ish token estimate from the normalized text ``norm`` and its
    token list ``toks``."""
    return (
        f"greatest(CAST(ceil(length({norm}) / 4.0) AS BIGINT), "
        f"CAST(len({toks}) AS BIGINT))"
    )


_BPE = _bpe()


def _hex_int(hexpr: str, start: int, n: int) -> str:
    """BIGINT value of the ``n`` hex digits of ``hexpr`` from 1-based
    ``start``."""
    return f"CAST(('0x' || substr({hexpr}, {start}, {n})) AS BIGINT)"


def _h32(hexpr: str) -> str:
    """The 32-bit value of the first 8 hex digits of the md5 hex string
    ``hexpr``."""
    return _hex_int(hexpr, 1, 8)


def _shingles(n: int, toks: str = "toks", distinct: bool = True) -> str:
    """Word ``n``-grams of the token list column ``toks``; a list shorter
    than ``n`` yields its whole joined text. ``distinct=False`` keeps
    every window in slot order, repeats included."""
    k = f"len({toks}) - {n - 1}"
    windows = (
        f"list_transform(range(1, {k} + 1), i -> concat_ws(' ', "
        + ", ".join(f"{toks}[i+{j}]" for j in range(n))
        + "))"
    )
    if distinct:
        windows = f"list_distinct({windows})"
    return (
        f"(CASE WHEN {k} >= 1 THEN {windows} "
        f"ELSE [array_to_string({toks}, ' ')] END)"
    )


def _lang_sql(toks: str = "toks") -> str:
    """Argmax language by marker hits over the token list ``toks``."""

    def score(lang: str) -> str:
        markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        return f"len(list_filter({toks}, t -> t IN ({markers})))"

    langs = list(LANG_MARKERS)
    arms = " ".join(
        f"WHEN {score(lang)} >= 1"
        + "".join(f" AND {score(lang)} >= {score(o)}" for o in langs[i + 1:])
        + f" THEN '{lang}'"
        for i, lang in enumerate(langs)
    )
    return f"(CASE {arms} ELSE 'und' END)"


def _ratio4(count: str, total: str) -> str:
    """``fround(count / greatest(total, 1), 4)``."""
    return f"(floor({count} / greatest({total}, 1) * 10000) / 10000)"


_STOPS = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
_STOP_RATIO = _ratio4(f"len(list_filter(toks, t -> t IN ({_STOPS})))", "len(toks)")
_PUNCT_RATIO = _ratio4("length(regexp_replace(text, '[^.,!?;:]', '', 'g'))", "length(text)")
_UPPER_RATIO = _ratio4("length(regexp_replace(text, '[^A-Z]', '', 'g'))", "length(text)")


def _quality_sql(
    stop: str = _STOP_RATIO, punct: str = _PUNCT_RATIO, upper: str = _UPPER_RATIO
) -> str:
    """Quality score over ``text`` from its three ratio expressions
    (defaults: the ratio fragments over ``text``/``toks``)."""
    return f"""
        floor((0.4 * (CASE WHEN length(text) BETWEEN 100 AND 20000
                           THEN 1.0 ELSE 0.3 END)
               + 0.4 * least({stop} * 4, 1.0)
               + 0.2 * (1 - least({punct} * 5 + {upper} * 2, 1.0)))
              * 10000) / 10000
    """


def _shingle_sets(where: str = "TRUE") -> str:
    """CTEs ``t`` (doc_id, toks) and ``g`` (doc_id, grams): the word
    3-gram sets of the documents matching ``where``."""
    return f"""
        t AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE {where}),
        g AS (SELECT doc_id, {_shingles(3)} AS grams FROM t)"""


def _rare(x: str, out: str) -> str:
    """CTEs ``rare`` and ``out``: the (doc_id, shingle) rows of CTE ``x``
    whose shingle sits in at most 1000 of them (``max_shingle_df=1000``:
    hot shingles leave the candidate join only)."""
    return f"""
        rare AS (SELECT shingle FROM {x} GROUP BY shingle HAVING COUNT(*) <= 1000),
        {out} AS (SELECT {x}.doc_id, {x}.shingle FROM {x} JOIN rare USING (shingle))"""


def _pair_counts(where: str = "TRUE", rare: bool = True) -> str:
    """CTEs t → g → x → sz → [rare → xf] → c over the documents matching
    ``where``: ``c`` holds (id_a, id_b, n_common, n_a, n_b) for every
    pair that shares a shingle, with both full set sizes. ``rare=False``
    counts every shared shingle (the exact, uncapped intersection)."""
    j = "xf" if rare else "x"
    return f"""{_shingle_sets(where)},
        x AS (SELECT doc_id, unnest(grams) AS shingle FROM g),
        sz AS (SELECT doc_id, len(grams) AS n_sh FROM g),{_rare("x", "xf") + "," if rare else ""}
        c AS (
          SELECT p.*, sa.n_sh AS n_a, sb.n_sh AS n_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
            FROM {j} a JOIN {j} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
          ) p
          JOIN sz sa ON p.id_a = sa.doc_id
          JOIN sz sb ON p.id_b = sb.doc_id
        )"""


# the Jaccard of a ``c`` row: 3-gram sets are distinct, so
# |A∪B| = n_a + n_b − n_common
_JACCARD = "n_common / (n_a + n_b - n_common)"

# n-gram-Jaccard (>= 0.1) pair graph of doc_id < 300 plus its component
# closure: ``pairs``, ``e``, ``reach``, ``comp`` (node, component)
_PAIR_CTES = f"""{_pair_counts("doc_id < 300")},
        pairs AS (SELECT id_a, id_b FROM c WHERE {_JACCARD} >= 0.1),
        e AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL
          SELECT id_b AS a, id_a AS b FROM pairs
        ),
        reach(node, r) AS (
          SELECT a, a FROM e
          UNION
          SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.b
        ),
        comp AS (
          SELECT node, MIN(r) AS component FROM reach GROUP BY node
        )
"""


def _minhash_sig(
    num_perm: int = 64,
    src: str = "g",
    key: str = "doc_id",
    item: str = "unnest(grams)",
) -> str:
    """CTEs hx → bhr → co → sig: ``sig`` holds (``key``, i, s), the
    ``num_perm`` permutation minima per ``key`` of relation ``src`` over
    the md5 base hashes of its ``item`` strings, with the coefficients
    ``_perm_coeffs(num_perm, 42)`` that the Spark kernel uses. The
    minima are one hash aggregate over (row, permutation) pairs, not
    nested list lambdas (about 170x faster at sf0.01)."""
    coeff_rows = ", ".join(
        f"({i}, {a}::BIGINT, {b}::BIGINT)"
        for i, (a, b) in enumerate(_perm_coeffs(num_perm, 42))
    )
    return f"""
        hx AS (SELECT {key}, md5({item}) AS h FROM {src}),
        bhr AS (SELECT {key}, {_h32('h')} % {_MERSENNE} AS base FROM hx),
        co(i, a, b) AS (VALUES {coeff_rows}),
        sig AS (
          SELECT bhr.{key}, co.i,
                 MIN((bhr.base * co.a + co.b) % {_MERSENNE}) AS s
          FROM bhr CROSS JOIN co
          GROUP BY bhr.{key}, co.i
        )"""


def _lsh_bucket(vexpr: str, dim: int, n_planes: int) -> str:
    """Sign-bit bucket key of the DOUBLE[] ``vexpr`` against the seed-42
    hyperplanes. The dot product is one left-associative sum of the
    element products, the order of Spark's ``F.aggregate``, so each bit
    is decided on the same double; an out-of-range ``vexpr[j]`` is NULL,
    as ``zip_with`` pads it. The weights are exponent literals, which
    DuckDB reads as the exact DOUBLE (a plain ``0.123…`` is a DECIMAL)."""
    terms = []
    for i, plane in enumerate(_hyperplanes(dim, n_planes, 42)):
        dot = " + ".join(
            f"({vexpr})[{j}] * {float(w):.16e}" for j, w in enumerate(plane, 1)
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


def _ivf_ctes(n_probe: int) -> str:
    """CTEs emb → corpus, queries → centroids → assigned → probes of the
    16-list IVF index over ``embeddings``: vec_id >= 10 is the corpus
    (vec_id, v), the rest the queries (query_id, qv); the 16 lowest-id
    corpus vectors are the centroids (centroid_id, cv). ``assigned``
    gives each corpus vector its nearest centroid, and ``probes``
    (query_id, qv, centroid_id, rq) each query's ``n_probe`` nearest,
    ``rq`` the rank; ties go to the lower centroid id."""
    return f"""
        emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        corpus AS (SELECT vec_id, v FROM emb WHERE vec_id >= 10),
        queries AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10),
        centroids AS (
          SELECT vec_id AS centroid_id, v AS cv FROM corpus
          ORDER BY vec_id LIMIT 16
        ),
        assigned AS (
          SELECT vec_id, v, centroid_id FROM (
            SELECT c.vec_id, c.v, t.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id
                     ORDER BY round(list_cosine_similarity(c.v, t.cv), 6) DESC,
                              t.centroid_id) AS r
            FROM corpus c CROSS JOIN centroids t
          ) WHERE r = 1
        ),
        probes AS (
          SELECT query_id, qv, centroid_id, rq FROM (
            SELECT q.query_id, q.qv, t.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                     ORDER BY round(list_cosine_similarity(q.qv, t.cv), 6) DESC,
                              t.centroid_id) AS rq
            FROM queries q CROSS JOIN centroids t
          ) WHERE rq <= {n_probe}
        )"""


# CTE ``daily`` (day, rev): purchase revenue per epoch day, in cents
# quantized per row
_DAILY_REV = """
    daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS rev
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    )"""
