"""Text expression helpers — tokenization, normalization, shingling.

All pure built-in ``pyspark.sql.functions`` (no UDFs): these run inside
WholeStageCodegen and keep the 100 TB text path JVM-side. Each helper has
a DuckDB-SQL twin (the *_SQL template strings) used by the oracle
queries, so Spark and oracle tokenize identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: Column) -> Column:
    """Whitespace tokens with empties dropped → array<string>.

    array_remove, not a filter() HOF: higher-order-function lambdas run
    interpreted per element, measured 2× slower on the tokenize stage.
    """
    return F.array_remove(F.split(col, r"\s+"), "")


# DuckDB twin of tokens() — substitute {col}.
TOKENS_SQL = r"list_filter(string_split_regex({col}, '\s+'), x -> x <> '')"


def normalize(col: Column) -> Column:
    """Canonical text: lowercase, non-alnum → space, collapse runs, trim."""
    lowered = F.lower(col)
    alnum = F.regexp_replace(lowered, "[^a-z0-9]+", " ")
    return F.trim(alnum)


# DuckDB twin of normalize() — note the 'g' flag (DuckDB replaces only the
# first match by default; Spark replaces all).
NORMALIZE_SQL = "trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'))"


def adjacent_pairs(tok: Column | str, combine) -> Column:
    """``combine(tok[i], tok[i + 1])`` for every adjacent pair of a token
    array → array; empty when the array has fewer than 2 tokens.
    ``combine`` is a two-argument Column function, e.g. ``bigram_str``
    or ``bigram_struct``.

    Built with zip_with over two slices — a constant number of
    references to ``tok``. A transform(sequence(...)) with
    element_at(tok, i) per index re-evaluates the *whole* tok expression
    per element once ProjectCollapsing inlines it (tokenizer regex × ~2N
    per row — measured 10× slowdown on the dedup path).
    """
    m = F.greatest(F.size(tok) - 1, F.lit(0))
    return F.zip_with(F.slice(tok, 1, m), F.slice(tok, 2, m), combine)


def bigram_str(x: Column, y: Column) -> Column:
    """The bigram as one shingle string, ``"w1 w2"``."""
    return F.concat_ws(" ", x, y)


def bigram_struct(x: Column, y: Column) -> Column:
    """The bigram as ``struct(w1, w2)``, for joins on either word."""
    return F.struct(x.alias("w1"), y.alias("w2"))


def word_bigrams(tok: Column) -> Column:
    """Distinct word-bigram shingles from a token array → array<string>.

    Empty when the doc has fewer than 2 tokens.
    """
    return F.when(
        F.size(tok) >= 2, F.array_distinct(adjacent_pairs(tok, bigram_str))
    ).otherwise(F.array().cast("array<string>"))


def word_bigrams_multiset(tok: Column) -> Column:
    """Word-bigram shingles WITHOUT the distinct pass → array<string>.

    For consumers whose aggregate is duplicate-invariant — MinHash takes
    a min() over shingle hashes, and min over a multiset equals min over
    its support set — array_distinct is pure cost: measured at half the
    shingle-path time (interpreted HOF, per-element hash-set) for a 3.6%
    reduction in shingle count. Jaccard-style set semantics must keep
    ``word_bigrams``.
    """
    return adjacent_pairs(tok, bigram_str)


# DuckDB twin of word_bigrams() — substitute {tok} (a list expression).
BIGRAMS_SQL = (
    "CASE WHEN len({tok}) >= 2 THEN "
    "list_distinct([{tok}[i] || ' ' || {tok}[i+1] "
    "for i in generate_series(1, len({tok}) - 1)]) "
    "ELSE [] END"
)


def word_ngrams(tok: Column, n: int) -> Column:
    """Distinct word n-gram shingles from a token array → array<string>.

    Same constant-reference discipline as ``adjacent_pairs``: n slices of
    the (materialized) token array folded with zip_with, never a
    transform(sequence) + element_at(tok, i) chain — the latter
    re-evaluates the token expression per element after ProjectCollapsing
    inlines it.
    """
    if n < 2:
        raise ValueError("n-grams need n >= 2")
    sz = F.size(tok)
    m = F.greatest(sz - (n - 1), F.lit(0))
    grams = F.slice(tok, 1, m)
    for k in range(2, n + 1):
        grams = F.zip_with(grams, F.slice(tok, k, m), bigram_str)
    return F.when(sz >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def ngrams_sql(tok: str, n: int) -> str:
    """DuckDB twin of word_ngrams() — substitute a list expression."""
    join = " || ' ' || ".join(f"{tok}[i+{k}]" if k else f"{tok}[i]" for k in range(n))
    return (
        f"CASE WHEN len({tok}) >= {n} THEN "
        f"list_distinct([{join} "
        f"for i in generate_series(1, len({tok}) - {n - 1})]) "
        f"ELSE [] END"
    )
