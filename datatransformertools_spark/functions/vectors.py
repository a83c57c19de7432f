"""Dense-vector math over array<float>/array<double> columns.

Built on zip_with + aggregate — sequential fold per row, JVM-side,
no UDF. Elements are cast to double before folding so the result
is bit-identical to a sequential double accumulation in any other
engine (the DuckDB oracle does the same cast).

Scale note: brute-force similarity is O(n·m) pair rows; the pair
generation is a broadcast (small query side) or bucketed join —
the per-pair dot product itself is cheap, the design question is
always who joins with whom (see operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def norm_sql(v: str) -> str:
    """DuckDB twin of ``norm`` over a DOUBLE[] expression."""
    return f"sqrt(list_sum(list_transform({v}, x -> x * x)))"


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of ``cosine_prenormed`` over two DOUBLE[]
    expressions, with each norm taken from its own vector."""
    return f"""CASE WHEN {norm_sql(a)}
                     * {norm_sql(b)} > 0
                THEN list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))
                     / ({norm_sql(a)}
                        * {norm_sql(b)})
                ELSE 0.0 END"""


def cosine_prenormed(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with per-vector norms (``norm``) precomputed BEFORE the
    pair join, so the O(pairs) stage folds one array instead of
    three. 0.0 when either vector is zero."""
    denom = norm_a * norm_b
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# Flat-column pairwise kernels (r13, guide §4.1/§1.2)
#
# The zip_with+aggregate fold above is an INTERPRETED higher-order
# function: Spark evaluates the lambda per element per row, so an
# O(pairs) similarity join pays ~2·DIM interpreted expression
# dispatches per pair — measured as the dominant cost of the
# embedding dedup/ANN family at every SF. Splitting the vector into
# DIM primitive DOUBLE columns ONCE per vector (before the pair
# join) turns the per-pair kernel into a flat multiply-add chain
# over UnsafeRow primitive reads — fully inside WholeStageCodegen,
# no array access at the pair grain at all. (An r12 experiment that
# unrolled getItem() over the ARRAY at the pair grain measured
# SLOWER than the fold; primitive columns are the layout that makes
# the unroll codegen-viable.)
#
# Exactness contract: every chain below folds left-to-right from a
# 0.0 seed — bit-identical to the sequential aggregate() fold and to
# the DuckDB list_sum on the same operand order.
# ---------------------------------------------------------------------------


def flat_cols(vec: Column, dim: int, prefix: str) -> list[Column]:
    """`dim` scalar DOUBLE columns `{prefix}0..{prefix}{dim-1}` from
    an array<double> column — the one-time per-vector projection
    that feeds `flat_dot`/`flat_cosine_prenormed`."""
    return [vec[i].alias(f"{prefix}{i}") for i in range(dim)]


def flat_dot(a_prefix: str, b_prefix: str, dim: int) -> Column:
    """Σ a_i·b_i over flat columns, accumulated left-to-right from
    0.0 — bit-identical to ``dot`` over the same vectors. Built as
    ONE parsed SQL expression: composing the chain from Column
    operators costs ~3 py4j round-trips per term, which at DIM=64
    per kernel dominates the driver-side plan build."""
    chain = "0.0D" + "".join(
        f" + {a_prefix}{i} * {b_prefix}{i}" for i in range(dim)
    )
    return F.expr(chain)


def flat_cosine_prenormed(
    a_prefix: str, b_prefix: str, dim: int, norm_a: Column, norm_b: Column
) -> Column:
    """``cosine_prenormed`` over flat columns — same values, codegen
    instead of the interpreted fold at the pair grain."""
    denom = norm_a * norm_b
    return F.when(denom > 0, flat_dot(a_prefix, b_prefix, dim) / denom).otherwise(
        F.lit(0.0)
    )
