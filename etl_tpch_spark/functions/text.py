"""Text-analysis kernels for LLM-data pipelines (north star: lang-ID,
quality scoring, token counting, fingerprinting — BASELINE.json).

Each kernel is ONE Spark-SQL text builder, ``spark_sql_X(expr) ->
str``, for ``selectExpr``/``F.expr``: the engine parses the whole
expression in one py4j round-trip, where a node-by-node ``Column``
builder pays about two per expression node.  Its DuckDB twin
``sql_X`` is written by hand and kept separate, so the oracle stays
an independent check rather than a copy of the same source.  No
Python runs in the hot path, and every hash is derived from md5,
which is bit-identical across engines — so even hash-based operators
(fingerprints, minhash) are DuckDB-oracle-checkable.  Cross-engine
hash recipe:

    Spark:  conv(substring(md5(x), 1, 8), 16, 10) :: long
    DuckDB: CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)

8 hex chars → 32-bit value: products with small constants stay < 2^53,
exact in BIGINT and in double, so folds agree bit-for-bit.  Fractional
literals carry the ``D`` suffix: a bare ``50.0`` parses as a DECIMAL in
Spark SQL and would change the result type.
"""

from __future__ import annotations

from ..exprs import json_array_sql

HASH_MOD = 1_000_000_007  # prime; keeps fold accumulators < 2^53
FOLD_MULT = 131

# Tiny per-language stopword lists for the heuristic n-gram/stopword
# language identifier. Deterministic, tie-broken by fixed order.
STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "los", "es"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit"],
    "fr": ["le", "la", "les", "et", "est", "des", "une"],
}
CJK_PATTERN = "[一-鿿]"


def spark_sql_tokens(text: str) -> str:
    """Whitespace tokens, empties removed (array<string>)."""
    return f"filter(split({text}, ' '), x -> x != '')"


def spark_sql_token_hash(tok: str) -> str:
    """32-bit md5-derived hash of a token (cross-engine deterministic)."""
    return f"cast(conv(substring(md5({tok}), 1, 8), 16, 10) AS bigint)"


def sql_token_hash(tok: str) -> str:
    """DuckDB twin of :func:`spark_sql_token_hash`."""
    return f"CAST('0x' || substr(md5({tok}), 1, 8) AS BIGINT)"


def spark_sql_token_hash_wide(tok: str) -> str:
    """60-bit md5-derived token hash (15 hex chars — wide enough for a
    Manku-style simhash fingerprint, narrow enough to stay clear of the
    BIGINT sign bit on both engines)."""
    return f"cast(conv(substring(md5({tok}), 1, 15), 16, 10) AS bigint)"


def sql_token_hash_wide(tok: str) -> str:
    """DuckDB twin of :func:`spark_sql_token_hash_wide`."""
    return f"CAST('0x' || substr(md5({tok}), 1, 15) AS BIGINT)"


def spark_sql_stopword_count(toks: str, words: list[str]) -> str:
    """How many tokens are in the given stopword list."""
    arr = json_array_sql(list(words), "string")
    return f"size(filter({toks}, x -> array_contains({arr}, x)))"


def spark_sql_fingerprint(toks: str) -> str:
    """Order-sensitive rolling polynomial hash of the token sequence:
    fold h -> (h * 131 + hash32(token)) mod p.  Identical to the DuckDB
    list_reduce with a prepended 0 accumulator.  Detects exact
    *sequence* duplicates while being robust to whitespace differences
    (tokens, not raw chars)."""
    return (
        f"aggregate({toks}, 0L, (acc, x) -> "
        f"(acc * {FOLD_MULT} + {spark_sql_token_hash('x')}) % {HASH_MOD})"
    )


def sql_fingerprint(toks_expr: str) -> str:
    """DuckDB twin of :func:`spark_sql_fingerprint` over a list
    expression."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({toks_expr}, t -> {sql_token_hash('t')})), "
        f"(a, b) -> (a * {FOLD_MULT} + b) % {HASH_MOD})"
    )


def spark_sql_quality_score(text: str) -> str:
    """The engine's document quality score in [0, 1]: capped length
    factor × vocabulary diversity (type-token ratio), rounded once to
    6 decimals so every downstream use (gates, weighted sampling)
    compares the same exact double.  A document with no tokens scores
    NULL (``try_divide``; a plain division raises DIVIDE_BY_ZERO under
    ANSI mode), as the DuckDB ``0 * 1.0 / 0`` of the text_quality_score
    oracle (queries/text.py) does; a NULL score fails every gate."""
    toks = spark_sql_tokens(text)
    return (
        f"round(least(size({toks}) / 50.0D, 1.0D) * "
        f"try_divide(size(array_distinct({toks})) * 1.0D, size({toks})), 6)"
    )
