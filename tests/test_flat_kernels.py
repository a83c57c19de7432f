"""Direct bit-identity test for the flat-column pairwise kernels.

`flat_dot` / `flat_cosine_prenormed` replace the interpreted
`zip_with` + `aggregate` fold (`dot` / `cosine_prenormed`) at the
pair grain of the embedding operators, on the promise that both
accumulate left to right from a 0.0 seed and so return the SAME
double. The oracle sweep certifies that only end to end, through
rounded aggregates; this pins it per pair, bit for bit, at the
dimension edges and across the `_v1` / `_v10` column-name boundary
(where a prefix-matching bug would pair `_v1` with `_v10`).
"""

from __future__ import annotations

import random
import struct

from pyspark.sql import functions as F

from datatransformertools_spark.functions.vectors import (
    cosine_prenormed,
    dot,
    flat_cols,
    flat_cosine_prenormed,
    flat_dot,
    norm,
)


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


DIMS = (1, 9, 10, 64)
N_RANDOM = 5
ZERO_ID = N_RANDOM  # the zero-norm vector: both cosines must return 0.0


def _vectors() -> list[tuple]:
    """(vec_id, v1, v9, v10, v64): N_RANDOM seeded vectors per DIM
    with magnitudes over six decades, then an all-zero one."""
    rng = random.Random(7)
    rows = []
    for vec_id in range(N_RANDOM + 1):
        row = [vec_id]
        for dim in DIMS:
            if vec_id == ZERO_ID:
                row.append([0.0] * dim)
            else:
                row.append([rng.uniform(-1.0, 1.0) * 10.0 ** rng.randint(-3, 3) for _ in range(dim)])
        rows.append(tuple(row))
    return rows


def test_flat_kernels_bit_identical_to_fold(spark):
    """One job covers every DIM: the production layout is one flat
    projection per vector with its norm, then a pair join of two
    aliased copies read as `a.<prefix>` / `b.<prefix>`."""
    schema = "vec_id int, " + ", ".join(f"v{d} array<double>" for d in DIMS)
    vecs = spark.createDataFrame(_vectors(), schema).coalesce(1)
    flat = vecs.select(
        "*",
        *(norm(F.col(f"v{d}")).alias(f"nrm{d}") for d in DIMS),
        *(c for d in DIMS for c in flat_cols(F.col(f"v{d}"), d, f"d{d}_v")),
    )
    a, b = flat.alias("a"), flat.alias("b")
    kernels = [F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id")]
    for d in DIMS:
        va, vb, na, nb = F.col(f"a.v{d}"), F.col(f"b.v{d}"), F.col(f"a.nrm{d}"), F.col(f"b.nrm{d}")
        kernels += [
            dot(va, vb).alias(f"fold_dot{d}"),
            flat_dot(f"a.d{d}_v", f"b.d{d}_v", d).alias(f"flat_dot{d}"),
            cosine_prenormed(va, vb, na, nb).alias(f"fold_cos{d}"),
            flat_cosine_prenormed(f"a.d{d}_v", f"b.d{d}_v", d, na, nb).alias(f"flat_cos{d}"),
        ]
    rows = a.crossJoin(b).select(*kernels).collect()
    assert len(rows) == (N_RANDOM + 1) ** 2
    for r in rows:
        for d in DIMS:
            assert _bits(r[f"flat_dot{d}"]) == _bits(r[f"fold_dot{d}"]), (d, r)
            assert _bits(r[f"flat_cos{d}"]) == _bits(r[f"fold_cos{d}"]), (d, r)
            if ZERO_ID in (r.a_id, r.b_id):
                assert r[f"flat_cos{d}"] == 0.0
