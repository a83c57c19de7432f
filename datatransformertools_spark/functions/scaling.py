"""Feature scaling shared by the in-engine learners.

``zscore`` standardizes numbered feature columns ``f1..fn`` against
the frame's own mean and population std; the logistic-regression
quality scorer and the RFM k-means both train on its output, and
``zscore_sql`` is its DuckDB twin (a string builder that never calls
the Spark one). Both engines round the statistics and the
standardized values to 6 dp, so every later round of a driver loop
sees bit-identical features.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zscore(df: DataFrame, n: int) -> tuple[DataFrame, list[Column]]:
    """``df`` joined with its 1-row standardization aggregate (means
    ``m1..mn``, stds ``s1..sn``; it rides as a broadcast frame, the
    house rule), and the n standardized columns ``(fi − mi) / si``.
    A constant feature's std is pinned to 1.0 after the 6-dp rounding,
    so its standardized value is exactly 0 (a learner never moves its
    weight)."""

    def std(i: int) -> Column:
        s = F.round(F.stddev_pop(f"f{i}") + 1e-9, 6)
        return F.when(s < 1e-6, F.lit(1.0)).otherwise(s).alias(f"s{i}")

    stats = df.agg(
        *[F.round(F.avg(f"f{i}") + 1e-9, 6).alias(f"m{i}") for i in range(1, n + 1)],
        *[std(i) for i in range(1, n + 1)],
    )
    z = [
        F.round((F.col(f"f{i}") - F.col(f"m{i}")) / F.col(f"s{i}") + 1e-9, 6)
        for i in range(1, n + 1)
    ]
    return df.crossJoin(F.broadcast(stats)), z


def zscore_sql(n: int, src: str) -> tuple[str, list[str]]:
    """DuckDB twin of ``zscore``: the ``stats`` CTE over ``src`` and
    the n standardized expressions over ``src CROSS JOIN stats``."""
    means = ", ".join(f"round(avg(f{i}) + 1e-9, 6) AS m{i}" for i in range(1, n + 1))
    stds = ", ".join(
        f"CASE WHEN round(stddev_pop(f{i}) + 1e-9, 6) < 1e-6 THEN 1.0"
        f" ELSE round(stddev_pop(f{i}) + 1e-9, 6) END AS s{i}"
        for i in range(1, n + 1)
    )
    z = [f"round((f{i} - m{i}) / s{i} + 1e-9, 6)" for i in range(1, n + 1)]
    return f"stats AS (SELECT {means}, {stds} FROM {src})", z
