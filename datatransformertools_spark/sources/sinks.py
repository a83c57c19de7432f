"""Generic sources and sinks beyond the star-schema parquet.

- JSON-lines reader and writer with an explicit schema (schema
  inference is a full extra pass at 100 TB — never rely on it);
- bucketed table writer: pre-shuffling both sides of a recurring
  join into the same bucketing lets every later join run with ZERO
  exchanges — the classic pay-once-join-forever layout
  (tests/test_sinks.py asserts the shuffle-free join plan).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datatransformertools_spark.caching import Memo
from datatransformertools_spark.functions.hashing import md5_u32, md5_u32_sql
from datatransformertools_spark.sources.tables import events_ts_us, fan_out, load_table

# One scratch dir per application holds the files of every write→read
# round-trip (each under its own tag). It must outlive the collection
# of the frame a round-trip returns, so a Memo owns it: the dir is
# removed when the entry is released (caching.clear_all_memos(),
# eviction) or, at the latest, when the interpreter exits.
_IO_DIR_MEMO = Memo()


def roundtrip_path(spark: SparkSession, tag: str) -> str:
    """The directory the round-trip ``tag`` writes and reads back."""
    scratch = _IO_DIR_MEMO.get_or_build(
        spark,
        "io",
        lambda: tempfile.TemporaryDirectory(prefix="dtt-io-", ignore_cleanup_errors=True),
    )
    return f"{scratch.name}/{tag}"


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSON-lines with an explicit DDL schema (one object per line —
    the splittable layout; multiLine JSON cannot be parallelized)."""
    return spark.read.schema(schema).json(path)


def write_bucketed_table(df: DataFrame, table: str, bucket_col: str, n_buckets: int) -> None:
    """Bucketed + sorted external table: rows are hash-distributed
    into n_buckets files by bucket_col. Two tables bucketed the same
    way join with no exchange on either side. The files live under
    the session's round-trip dir, not the shared warehouse dir, so
    sessions started in the same working directory cannot collide."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .option("path", roundtrip_path(df.sparkSession, table))
        .saveAsTable(table)
    )


# ---------------------------------------------------------------------------
# bucketed_join_revenue — the pay-once-join-forever layout, gated
# ---------------------------------------------------------------------------

_BUCKETS = 8


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority THROUGH the bucketed-table path:
    orders and lineitem are first written as tables bucketed
    (and sorted) on the order key, then joined out of the catalog —
    the join runs with ZERO exchanges on either side because both
    layouts already agree (tests/test_sinks.py asserts the
    exchange-free plan). This is the recurring-join layout at
    100 TB: pay the bucketing shuffle once at ingest, then every
    nightly join of the two biggest tables skips both sort-merge
    exchanges forever.

    The tiny aggregate materializes eagerly (localCheckpoint — same
    staged-builder exemption as PageRank/k-means) so the staging
    tables can be dropped before returning instead of leaking into
    the session catalog."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # disc_price in DECIMAL: summed over ~1e5 rows per group, a double
    # sum's order noise can flip the 4-dp round between engines at
    # larger SF; decimal accumulation is exact at any scale (prices
    # and discounts are 2-dp values, so the casts are lossless)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            (
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
            ).alias("disc_price"),
        )
    )
    # Fan out on the BUCKET KEY: every task then holds keys of one hash
    # residue class and writes exactly one file of one bucket. The
    # read-back join is exchange-free either way (multiple files per
    # bucket coalesce into the bucket's partition) — pinned by
    # tests/test_sinks.py; at 100 TB this distribute-by-bucket-key
    # before a bucketed write is the standard small-files guard.
    write_bucketed_table(fan_out(orders, "o_orderkey"), "dtt_bkt_orders", "o_orderkey", _BUCKETS)
    write_bucketed_table(fan_out(li, "o_orderkey"), "dtt_bkt_lineitem", "o_orderkey", _BUCKETS)
    try:
        out = (
            spark.table("dtt_bkt_orders")
            .join(spark.table("dtt_bkt_lineitem"), "o_orderkey")
            .groupBy("o_orderpriority")
            .agg(
                F.round(F.sum("disc_price").cast("double") + 1e-9, 4).alias("revenue"),
                F.count(F.lit(1)).alias("n_items"),
            )
            .localCheckpoint()
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS dtt_bkt_orders")
        spark.sql("DROP TABLE IF EXISTS dtt_bkt_lineitem")
    return out


BUCKETED_JOIN_REVENUE_SQL = """
SELECT o_orderpriority,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) + 1e-9, 4) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# zorder_layout — multi-dimensional clustering key for lake layout
# ---------------------------------------------------------------------------

Z_BITS = 16  # bits per dimension interleaved into the 32-bit z-value
Z_PREFIX_SHIFT = 26  # audit granularity: top 6 bits → 64 layout regions


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit for the events table: interleave
    the bits of (user_id, value-bucket) into one z-value, then count
    rows per z-prefix region. Range-partitioning + sorting files by
    this key clusters BOTH dimensions at once, so scans filtered on
    either user ranges or value ranges prune most files — the
    multi-dimensional generalization of partitioning by one column,
    and the layout decision this audit sizes (balanced regions →
    balanced files).

    Scale design: the interleave is pure per-row integer bit math
    (identical in every engine), the audit is one ≤64-group
    partial-agg shuffle. The write itself is then
    `repartitionByRange(zkey).sortWithinPartitions(zkey)`."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    da = F.pmod(F.col("user_id"), F.lit(1 << Z_BITS)).cast("long")
    db = F.pmod(F.floor(F.col("value")).cast("long"), F.lit(1 << Z_BITS))
    z = None
    for i in range(Z_BITS):
        bit_a = F.shiftleft(F.shiftright(da, i).bitwiseAND(F.lit(1)), 2 * i)
        bit_b = F.shiftleft(F.shiftright(db, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        contrib = bit_a.bitwiseOR(bit_b)
        z = contrib if z is None else z.bitwiseOR(contrib)
    return (
        ev.select(F.shiftright(z, Z_PREFIX_SHIFT).alias("z_region"))
        .groupBy("z_region")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _z_interleave_sql(col_a: str, col_b: str) -> str:
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({col_a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({col_b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


ZORDER_LAYOUT_SQL = f"""
WITH dims AS (
  SELECT user_id % {1 << Z_BITS} AS da,
         CAST(floor(value) AS BIGINT) % {1 << Z_BITS} AS db
  FROM events
)
SELECT ({_z_interleave_sql('da', 'db')}) >> {Z_PREFIX_SHIFT} AS z_region,
       CAST(count(*) AS BIGINT) AS n_rows
FROM dims
GROUP BY 1
"""


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines writer — the LLM-pipeline interchange format (one
    object per line, splittable, streamable). Partitioned part
    files; consumers glob the directory."""
    df.write.mode("overwrite").json(path)


# ---------------------------------------------------------------------------
# documents_jsonl_roundtrip — JSONL write→read checksum, gated
# ---------------------------------------------------------------------------

_DOCS_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"


def documents_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Push the documents table through write_jsonl → read_jsonl
    (explicit schema — inference is a full extra pass at scale) and
    emit per-source order-independent checksums over every field
    INCLUDING the full text. Any writer-escaping or reader-parsing
    corruption (quotes, unicode, nulls) flips a hash; the oracle
    computes the identical checksums straight from parquet."""
    docs = load_table(spark, sf_dir, "documents")
    # checksums are order-independent
    docs = fan_out(docs, "doc_id")
    path = roundtrip_path(spark, "documents_jsonl")
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, _DOCS_SCHEMA)
    line = F.concat_ws(
        "|",
        F.col("doc_id").cast("string"),
        F.col("lang"),
        F.col("source"),
        F.col("n_chars").cast("string"),
        F.md5(F.col("text")),
    )
    h32 = md5_u32(line)
    return (
        back.select("source", h32.alias("h"), "n_chars")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("h").alias("doc_hash_sum"),
        )
    )


DOCUMENTS_JSONL_ROUNDTRIP_SQL = f"""
WITH lines AS (
  SELECT source, n_chars,
         CAST(doc_id AS VARCHAR) || '|' || lang || '|' || source || '|'
           || CAST(n_chars AS VARCHAR) || '|' || md5(text) AS line
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT)     AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum({md5_u32_sql('line')}) AS BIGINT)
         AS doc_hash_sum
FROM lines
GROUP BY source
"""


# ---------------------------------------------------------------------------
# orders_csv_roundtrip — CSV write→read checksum, gated
# ---------------------------------------------------------------------------

# o_orderdate materializes as TIMESTAMP_NTZ from parquet — the CSV
# writer/reader format option for NTZ is timestampNTZFormat (the
# plain timestampFormat is silently ignored for NTZ columns)
_ORDERS_CSV_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
)


def orders_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Push orders through a CSV write and an explicit-schema read
    (header on, malformed rows dropped) and emit per-status
    order-independent checksums. Doubles survive because Spark's CSV
    writer emits the shortest round-trippable repr; timestamps ride an
    explicit pinned format.
    Any quoting/formatting/parsing drift flips a hash against the
    oracle computed straight from parquet."""
    fmt = "yyyy-MM-dd HH:mm:ss"
    orders = load_table(spark, sf_dir, "orders")
    # checksums are order-independent
    orders = fan_out(orders, "o_orderkey")
    path = roundtrip_path(spark, "orders_csv")
    (
        orders.write.mode("overwrite")
        .option("header", "true")
        .option("timestampNTZFormat", fmt)
        .csv(path)
    )
    back = (
        spark.read.schema(_ORDERS_CSV_SCHEMA)
        .option("header", "true")
        .option("timestampNTZFormat", fmt)
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    line = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.format_string("%.4f", F.round(F.col("o_totalprice") + 1e-9, 4)),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    )
    h32 = md5_u32(line)
    return (
        back.select("o_orderstatus", h32.alias("h"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("h").alias("row_hash_sum"))
    )


ORDERS_CSV_ROUNDTRIP_SQL = f"""
WITH lines AS (
  SELECT o_orderstatus,
         CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|'
           || o_orderstatus || '|'
           || printf('%.4f', round(o_totalprice + 1e-9, 4)) || '|'
           || strftime(o_orderdate, '%Y-%m-%d') || '|'
           || o_orderpriority AS line
  FROM orders
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum({md5_u32_sql('line')}) AS BIGINT)
         AS row_hash_sum
FROM lines
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# partitioned_write_prune — hive-layout write + partition-pruned read, gated
# ---------------------------------------------------------------------------

PRUNE_EVENT_TYPE = "purchase"


def partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake-layout contract end to end: write events
    Hive-partitioned by event_type, read the directory back with an
    event_type filter, and aggregate hourly. The filter must prune
    at the DIRECTORY level — the scan's PartitionFilters carries
    the predicate and the other partitions' files are never opened
    (asserted in tests/test_plans.py). That is the difference
    between scanning 1/|types| of a 100 TB table and all of it.
    Values are hash-checked against the oracle computing the same
    aggregate straight from the unpartitioned source."""
    ev = load_table(spark, sf_dir, "events")
    path = roundtrip_path(spark, "events_by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    # the schema just written: Spark still places the partition
    # column last, and the read-back starts no inference job
    back = spark.read.schema(ev.schema).parquet(path)
    back = back.filter(F.col("event_type") == PRUNE_EVENT_TYPE)
    back = back.withColumn("ts_us", events_ts_us(back))
    hour_us = F.expr("ts_us div 3600000000") * 3_600_000_000
    return (
        back.groupBy(hour_us.alias("hour_us"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + 1e-9, 4).alias("sum_value"),
        )
    )


PARTITIONED_WRITE_PRUNE_SQL = f"""
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
       count(*) AS n_events,
       round(sum(value) + 1e-9, 4) AS sum_value
FROM events
WHERE event_type = '{PRUNE_EVENT_TYPE}'
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# lineitem_orc_roundtrip — ORC write → read, value-gated
# ---------------------------------------------------------------------------


def lineitem_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Push lineitem through ORC write → read (Spark's second
    columnar format — the one a warehouse migration actually
    crosses) and reduce to per-returnflag order-independent
    checksums over keys, exact-decimal prices, and dates. ORC is
    binary-typed so doubles/timestamps round-trip bit-exactly;
    the checksum proves it against the oracle computed straight
    from parquet — any type coercion in the writer or reader flips
    a hash."""
    li = load_table(spark, sf_dir, "lineitem")
    path = roundtrip_path(spark, "lineitem_orc")
    # encode + write + read-back fan out; the checksum face is
    # order-independent by design
    li = fan_out(li, "l_orderkey")
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    line = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.format_string("%.4f", F.round(F.col("l_extendedprice") + 1e-9, 4)),
        F.format_string("%.2f", F.round(F.col("l_discount") + 1e-9, 2)),
        F.date_format("l_shipdate", "yyyy-MM-dd"),
    )
    h32 = md5_u32(line)
    return (
        back.select("l_returnflag", h32.alias("h"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("h").alias("row_hash_sum"))
    )


LINEITEM_ORC_ROUNDTRIP_SQL = f"""
WITH lines AS (
  SELECT l_returnflag,
         CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|'
           || printf('%.4f', round(l_extendedprice + 1e-9, 4)) || '|'
           || printf('%.2f', round(l_discount + 1e-9, 2)) || '|'
           || strftime(l_shipdate, '%Y-%m-%d') AS line
  FROM lineitem
)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({md5_u32_sql('line')}) AS BIGINT)
         AS row_hash_sum
FROM lines
GROUP BY l_returnflag
"""


QUERIES = {
    "bucketed_join_revenue": (bucketed_join_revenue, BUCKETED_JOIN_REVENUE_SQL),
    "lineitem_orc_roundtrip": (lineitem_orc_roundtrip, LINEITEM_ORC_ROUNDTRIP_SQL),
    "partitioned_write_prune": (partitioned_write_prune, PARTITIONED_WRITE_PRUNE_SQL),
    "zorder_layout": (zorder_layout, ZORDER_LAYOUT_SQL),
    "documents_jsonl_roundtrip": (documents_jsonl_roundtrip, DOCUMENTS_JSONL_ROUNDTRIP_SQL),
    "orders_csv_roundtrip": (orders_csv_roundtrip, ORDERS_CSV_ROUNDTRIP_SQL),
}
