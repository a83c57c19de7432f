"""Stable cross-engine hash primitives.

Everything here is built on md5 because its byte-for-byte output is
identical in Spark, DuckDB, and every other engine — that is what
lets the driver's DuckDB oracle hash-check our minhash / simhash /
fingerprint results value-by-value. All expressions are built-in
JVM functions (no UDFs): md5 + substring + conv run inside
whole-stage codegen, so a 100 TB minhash pass is scan-bound, not
Python-bound.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column, salt: str | None = None) -> Column:
    """Stable 60-bit non-negative int64 hash of a string column: the
    first 15 hex chars of md5(salt || col), which always fit a signed
    int64.

    DuckDB twin: ``md5_long_sql``.
    """
    s = F.concat(F.lit(salt), col) if salt is not None else col
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str, salt: str | None = None) -> str:
    """DuckDB twin of ``md5_long``."""
    s = f"'{salt}' || {expr}" if salt is not None else expr
    return f"('0x' || substr(md5({s}), 1, 15))::BIGINT"


def md5_u32(col: Column) -> Column:
    """The low 32 bits of ``md5_long(col)``: the row checksum the
    write→read round-trips sum, which stays far inside int64 at any
    row count (2³² · rows)."""
    return md5_long(col).bitwiseAND(F.lit((1 << 32) - 1))


def md5_u32_sql(expr: str) -> str:
    """DuckDB twin of ``md5_u32``."""
    return f"{md5_long_sql(expr)} & 4294967295"


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Banded LSH keys: md5 over each band's slice of the signature.

    Docs sharing any band key become candidate pairs — the join key
    is a 32-hex-char string, so the dedup shuffle moves ~40 bytes
    per (doc, band), independent of document size. That is the
    100 TB design: never shuffle text, only signatures.
    """
    keys = []
    for b in range(bands):
        parts = [F.lit(f"{b}:")]
        for r in range(rows_per_band):
            idx = b * rows_per_band + r
            parts.append(F.element_at(signature, idx + 1).cast("string"))
            parts.append(F.lit(","))
        keys.append(F.md5(F.concat(*parts)))
    return F.array(*keys)
