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
- ``_PAIR_CTES`` — ``operators.dedup.ngram_jaccard_pairs`` plus the
  component closure
"""

from __future__ import annotations

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


# n-gram-Jaccard pair edges (mirrors operators.dedup.ngram_jaccard_pairs
# and the q33 oracle, parameterized) — input CTEs for the recursive
# closure oracles.
_PAIR_CTES = f"""
        t AS (
          SELECT doc_id, {_TOKS} AS toks
          FROM documents WHERE doc_id < 300
        ),
        g AS (SELECT doc_id, {_shingles(3)} AS grams FROM t),
        x AS (SELECT doc_id, unnest(grams) AS shingle FROM g),
        sz AS (SELECT doc_id, len(grams) AS n_sh FROM g),
        rare AS (SELECT shingle FROM x GROUP BY shingle HAVING COUNT(*) <= 1000),
        xf AS (SELECT x.doc_id, x.shingle FROM x JOIN rare USING (shingle)),
        c AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
          FROM xf a JOIN xf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT id_a, id_b
          FROM c
          JOIN sz sa ON c.id_a = sa.doc_id
          JOIN sz sb ON c.id_b = sb.doc_id
          WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
        ),
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
