"""SparkSession builder tuned for the engine.

Scale notes: these configs are the local[*] mirror of what we'd set
on a 1000-executor cluster — AQE on (runtime re-plan + skew-join
splitting), UTC session time zone (oracle parity + determinism),
Arrow enabled for the few Pandas-UDF paths, and a shuffle
partition count sized to the local core count (on a real cluster
AQE coalesces post-shuffle partitions anyway).

Codegen class cache: Spark keeps each class Janino compiles from
generated code in a Guava LRU cache keyed on the source text, with
``spark.sql.codegen.cache.maxEntries`` entries (100 by default). One
pass over the whole registry compiles 4,388 distinct classes at
sf0.001 and 4,410 at sf0.01 (counted with an unbounded cache), so
under the default a query run again compiled most of its code again:
a second registry pass at sf0.001 compiled 5,963 classes, against 218
with an unbounded cache. ``CODEGEN_CACHE_ENTRIES`` is the smallest
power of two at least 1.5× that working set (1.5 × 4,410 → 8192).
The headroom is for Guava's 4 segments: each holds a quarter of the
cap and evicts on its own, so an uneven hash spread starts evicting
before the cache as a whole is full. A cached class costs ≈9 KB of
metaspace (after two registry passes at sf0.001: 209 MB with the
default, 247 MB with this cap), so a full cache pins at most ≈72 MB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 8192


def get_spark(app_name: str = "datatransformertools-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
