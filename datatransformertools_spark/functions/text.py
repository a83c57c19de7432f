"""Text analysis Column builders and their DuckDB twins.

All built-in JVM expressions (split/regexp/transform) — the text
hot path stays inside whole-stage codegen. The DuckDB oracles build
their SQL from the twins here: ``normalize_sql`` mirrors
``normalize_text``, ``tokens_sql`` mirrors ``tokens``, and
``norm_tokens_sql`` mirrors ``norm_tokens`` without the no-op outer
trim.

Precondition of the twins: the text holds no U+000B and no U+0130.
Java's ``\\s`` matches the vertical tab and RE2's does not, and the
engines lowercase ``İ`` differently (``i̇`` against ``i``). The staged
documents at sf0.001, sf0.01 and sf0.1 are all ASCII and hold no tab,
CR, FF or vertical tab.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace, trim — the canonical form
    used by exact dedup and fingerprinting."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text → array<string>."""
    return F.split(F.trim(col), r"\s+")


def norm_tokens(col: Column) -> Column:
    """The corpus tokenizer every corpus-token stage reads: whitespace
    tokens of the normalized text. ``tokens``' trim is a no-op here
    but stays in the expression tree."""
    return tokens(normalize_text(col))


def normalize_sql(col: str = "text") -> str:
    """DuckDB twin of ``normalize_text`` over the column ``col``."""
    return rf"trim(regexp_replace(lower({col}), '\s+', ' ', 'g'))"


def tokens_sql(expr: str) -> str:
    """DuckDB twin of ``tokens`` over the SQL expression ``expr``."""
    return rf"regexp_split_to_array(trim({expr}), '\s+')"


def norm_tokens_sql(col: str = "text") -> str:
    """DuckDB twin of ``norm_tokens`` without the outer trim, which is
    a no-op on normalized text."""
    return rf"regexp_split_to_array({normalize_sql(col)}, '\s+')"


def word_shingles(tok: Column, n: int) -> Column:
    """n-gram word shingles from a token array (space-joined,
    deduplicated, first-occurrence order).

    Built by zipping n-1 shifted copies of the array —
    `zip_with(acc, slice(tok, j+1, …))` — instead of indexing with
    `transform(sequence, i -> element_at(tok, i+j))`: the positional
    zip traverses each array once and benchmarks ~10× faster than
    per-index element_at under the interpreted higher-order-function
    path. Tail entries where the shifted copy ran out are partial
    windows; the final slice keeps only the size-n+1 valid ones.
    The DuckDB twin enumerates windows [i, i+n) with 1-based list
    indexing — identical keys.
    """
    acc = tok
    for j in range(1, n):
        shifted = F.slice(tok, j + 1, F.greatest(F.lit(0), F.size(tok) - j))
        acc = F.zip_with(acc, shifted, lambda x, y: F.concat_ws(" ", x, y))
    win = F.slice(acc, 1, F.greatest(F.lit(0), F.size(tok) - (n - 1)))
    return F.when(F.size(tok) >= n, F.array_distinct(win)).otherwise(
        F.array().cast("array<string>")
    )
