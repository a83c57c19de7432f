"""Parquet loaders for the star schema test tables.

Columnar parquet scans are the engine's canonical source: Catalyst
pushes filters and prunes columns into the scan (`PushedFilters` /
`ReadSchema` in `.explain`), which is what makes the same plans
viable at 100 TB — a query touching 2 of 11 lineitem columns reads
2 columns' worth of bytes, not the table.

A parquet read with no schema starts a Spark job that reads the
file's footer to learn one, and the registry reads the same corpus
files hundreds of times per session. So the schema of every file is
probed once per (session, corpus directory) and memoized: the first
read returns the probe's own frame, and every later read passes the
schema to the reader and starts no job. The events ``ts``
shape (see ``load_table``) is therefore probed once per corpus per
session too. A corpus is immutable for the process lifetime, and code
that regenerates one in place calls ``caching.clear_all_memos()``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datatransformertools_spark.caching import Memo

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# One entry per corpus directory (realpath), holding file name →
# schema, so all ten tables of a corpus share one of MEMO_CAP slots.
_SCHEMA_MEMO = Memo()


def _schema_or_probe(spark: SparkSession, path: str) -> tuple[StructType, DataFrame | None]:
    """The schema of parquet file ``path`` and, on its first read in the
    session, the probe's own frame (None on a memo hit). A symlink
    resolves to its target, so a staged landing file shares its corpus
    file's entry."""
    real = os.path.realpath(path)
    schemas = _SCHEMA_MEMO.get_or_build(spark, os.path.dirname(real), dict)
    name = os.path.basename(real)
    if name in schemas:
        return schemas[name], None
    probe = spark.read.parquet(path)
    schemas[name] = probe.schema
    return schemas[name], probe


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema of parquet file ``path``, probed on its first read in
    the session."""
    return _schema_or_probe(spark, path)[0]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) and
        # TIMESTAMP(MICROS) across testdata generations. NANOS is
        # unreadable by the vectorized reader unless mapped to int64,
        # so keep that mapping on; MICROS reads natively as
        # timestamp_ntz. Temporal operators normalize either shape to
        # epoch-µs int64 via events_ts_us() — integer µs is the one
        # representation that is bit-exact across engines (the DuckDB
        # oracles use epoch_us(ts)).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    # a miss returns the probe's frame rather than reading a second time
    schema, probe = _schema_or_probe(spark, path)
    return probe if probe is not None else spark.read.schema(schema).parquet(path)


def fan_out(df: DataFrame, key: str) -> DataFrame:
    """``df`` hash-repartitioned by ``key`` to the session's default
    parallelism, before heavy per-row work. A local corpus table is one
    parquet file, so its scan is one split and the tokenize, encode or
    pair math after it would run in one task; on a multi-file lake the
    scan fans out by itself and AQE coalesces this exchange away."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)


def events_ts_us(df: DataFrame) -> Column:
    """Epoch-microseconds int64 for events.ts, robust to how the
    parquet physical type materialized: epoch-nanos int64 (NANOS +
    nanosAsLong) divides by 1000; timestamp/timestamp_ntz (MICROS)
    converts exactly via unix_micros under the UTC session zone.
    Pure column arithmetic either way — stays in whole-stage codegen."""
    dtype = dict(df.dtypes).get("ts")
    if dtype in ("bigint", "long"):
        return F.expr("ts div 1000")
    return F.unix_micros(F.col("ts").cast("timestamp"))


def events_event_time(df: DataFrame) -> Column:
    """events.ts as a proper TIMESTAMP column (for event-time windows
    and watermarks), robust to the same two physical shapes."""
    dtype = dict(df.dtypes).get("ts")
    if dtype in ("bigint", "long"):
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")
