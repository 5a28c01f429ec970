"""DuckDB fragments shared by the query modules' oracle SQL.

Each fragment is the DuckDB twin of a Spark-side operator, kept in one
place so every oracle that uses it reads the same text.
"""

from __future__ import annotations

from adhesive_spark.operators.text import STOPWORDS_EN

#: DuckDB twins of operators.text normalization and tokens.
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"


def _byte_from_hex(hexpr: str, pos: int) -> str:
    """DuckDB int value of the byte at 1-based hex-pair position."""
    c1 = f"substr({hexpr}, {2 * pos - 1}, 1)"
    c2 = f"substr({hexpr}, {2 * pos}, 1)"
    return (
        f"((strpos('0123456789abcdef', {c1}) - 1) * 16 "
        f"+ (strpos('0123456789abcdef', {c2}) - 1))"
    )


def _h32(hexpr: str) -> str:
    """DuckDB twin of operators.dedup.portable_hash32: the 32-bit value
    of the first 4 hex pairs of the md5 hex string ``hexpr``."""
    return (
        f"({_byte_from_hex(hexpr, 1)} * 16777216 "
        f"+ {_byte_from_hex(hexpr, 2)} * 65536 "
        f"+ {_byte_from_hex(hexpr, 3)} * 256 "
        f"+ {_byte_from_hex(hexpr, 4)})"
    )


def _quality_sql() -> str:
    """DuckDB twin of operators.text.quality_score over ``text``/``toks``."""
    stops = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
        floor((0.4 * (CASE WHEN length(text) BETWEEN 100 AND 20000
                           THEN 1.0 ELSE 0.3 END)
               + 0.4 * least(floor(len(list_filter(toks, t -> t IN ({stops})))
                                   / greatest(len(toks), 1) * 10000) / 10000 * 4, 1.0)
               + 0.2 * (1 - least(floor(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
                                        / greatest(length(text), 1) * 10000) / 10000 * 5
                                  + floor(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                                          / greatest(length(text), 1) * 10000) / 10000 * 2,
                                  1.0)))
              * 10000) / 10000
    """


# n-gram-Jaccard pair edges (mirrors operators.dedup.ngram_jaccard_pairs
# and the q33 oracle, parameterized) — input CTEs for the recursive
# closure oracles.
_PAIR_CTES = f"""
        t AS (
          SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks
          FROM documents WHERE doc_id < 300
        ),
        g AS (
          SELECT doc_id,
                 CASE WHEN len(toks) - 2 >= 1
                      THEN list_distinct(list_transform(
                             range(1, len(toks) - 2 + 1),
                             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                      ELSE [norm] END AS grams
          FROM t
        ),
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
