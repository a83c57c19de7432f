"""Schema-wide data audits a pipeline runs before trusting a drop.

- ``key_skew_profile`` — the skew detector that decides WHERE the
  scale levers go: per join/grouping key, exact row count, distinct
  count, the heaviest key's share, and the skew factor
  (max/avg rows per key). A skew factor near 1 means plain hash
  shuffles are fine; a heavy tail is the signal to salt that join
  (``events_skew_join_salted``) or lean on AQE skew splitting.
- ``referential_integrity_audit`` — orphan-key counts for every
  fact→dim edge of the star schema. Broken FKs silently drop rows
  in inner joins; this audit makes that loss visible before any
  query runs.

Both audits collapse each table to per-key counts FIRST (map-side
combined groupBy), so every later join/agg moves distinct keys —
never raw rows. That is the 100 TB shape: auditing a trillion-row
fact table shuffles |keys| longs per edge.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datatransformertools_spark.functions.hashing import md5_long, md5_long_sql
from datatransformertools_spark.sources.tables import load_table

# (table, key column) pairs every big shuffle in the engine keys on.
SKEW_KEYS = (
    ("events", "user_id"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("documents", "source"),
)


def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact skew profile of the engine's hot join/grouping keys.

    One map-side-combined groupBy per (table, key) collapses the
    table to per-key counts; a second |keys|-row agg yields
    n_rows / n_keys / max_per_key, and skew_factor = max/avg rows
    per key, 4-dp-quantized. The per-table passes are independent
    scans (column-pruned to the single key), unioned at one row per
    profile — output is O(|SKEW_KEYS|) regardless of data size."""

    def profile(table: str, key: str) -> DataFrame:
        per_key = (
            load_table(spark, sf_dir, table)
            .select(F.col(key).cast("string").alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return per_key.agg(
            F.lit(table).alias("table_name"),
            F.lit(key).alias("key_column"),
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("n").alias("max_per_key"),
            F.round(F.max("n") * F.count(F.lit(1)) / F.sum("n") + 1e-9, 4).alias(
                "skew_factor"
            ),
        )

    return reduce(DataFrame.unionByName, (profile(t, k) for t, k in SKEW_KEYS))


def _skew_leg(table: str, key: str) -> str:
    return f"""
SELECT '{table}' AS table_name,
       '{key}'   AS key_column,
       CAST(sum(n) AS BIGINT)   AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(n) AS BIGINT)   AS max_per_key,
       round(max(n) * count(*) * 1.0 / sum(n) + 1e-9, 4) AS skew_factor
FROM (SELECT CAST({key} AS VARCHAR) AS k, count(*) AS n FROM {table} GROUP BY 1)"""


KEY_SKEW_PROFILE_SQL = "\nUNION ALL\n".join(_skew_leg(t, k) for t, k in SKEW_KEYS)


# Every fact→dim foreign-key edge of the star schema.
FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-row counts per foreign-key edge: how many fact rows
    reference a key absent from the dimension.

    Each edge collapses the fact side to (key, row_count) first, so
    the anti-join against the dimension's primary keys shuffles
    distinct keys carrying a long — orphan ROWS are recovered as
    sum(row_count) over orphan KEYS without ever moving fact rows.
    The dim side projects its single key column (pruned scan). One
    row out per edge."""

    def audit(fact: str, fk: str, dim: str, pk: str) -> DataFrame:
        fact_keys = (
            load_table(spark, sf_dir, fact)
            .groupBy(F.col(fk).alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        dim_keys = load_table(spark, sf_dir, dim).select(F.col(pk).alias("k"))
        orphans = fact_keys.join(dim_keys, "k", "left_anti")
        return orphans.agg(
            F.lit(f"{fact}.{fk}").alias("fk_column"),
            F.lit(f"{dim}.{pk}").alias("references"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_orphan_rows"),
            F.count(F.lit(1)).alias("n_orphan_keys"),
        )

    return reduce(DataFrame.unionByName, (audit(*edge) for edge in FK_EDGES))


def _fk_leg(fact: str, fk: str, dim: str, pk: str) -> str:
    return f"""
SELECT '{fact}.{fk}' AS fk_column,
       '{dim}.{pk}'  AS references,
       CAST(coalesce(sum(n), 0) AS BIGINT) AS n_orphan_rows,
       CAST(count(*) AS BIGINT)            AS n_orphan_keys
FROM (
  SELECT {fk} AS k, count(*) AS n FROM {fact} GROUP BY 1
) f
WHERE k NOT IN (SELECT {pk} FROM {dim})"""


REFERENTIAL_INTEGRITY_SQL = "\nUNION ALL\n".join(_fk_leg(*e) for e in FK_EDGES)


# ---------------------------------------------------------------------------
# deletion_cascade_audit — right-to-be-forgotten blast radius
# ---------------------------------------------------------------------------

TOMBSTONE_MOD = 97  # customers with c_custkey % 97 == 0 model the erasure list


def deletion_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast radius of an erasure request BEFORE anything is
    deleted: given a tombstone list of customers, how many rows must
    go from each table the subject's data cascades into
    (customer → orders → lineitem). Every privacy pipeline runs this
    audit first — the deletion itself is then an anti-join rewrite
    per table, and the audit is the dry run that sizes and verifies
    it.

    Scale design: the cascade is a chain of left-semi joins on the
    FK keys — subjects (|tombstones| rows), their orders (semi on
    custkey), their line items (semi on orderkey). Each hop shuffles
    keys only; nothing aggregates until the final per-table counts,
    and the events leg keys on its own subject id independently."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    subjects = cust.filter(F.col("c_custkey") % TOMBSTONE_MOD == 0)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    hit_orders = orders.join(
        subjects, orders.o_custkey == subjects.c_custkey, "left_semi"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    hit_li = li.join(hit_orders, li.l_orderkey == hit_orders.o_orderkey, "left_semi")
    ev = load_table(spark, sf_dir, "events").select("user_id")
    hit_ev = ev.filter(F.col("user_id") % TOMBSTONE_MOD == 0)

    def leg(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows_to_delete"),
        )

    return reduce(
        DataFrame.unionByName,
        (
            leg("customer", subjects),
            leg("orders", hit_orders),
            leg("lineitem", hit_li),
            leg("events", hit_ev),
        ),
    )


DELETION_CASCADE_SQL = f"""
SELECT 'customer' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows_to_delete
FROM customer WHERE c_custkey % {TOMBSTONE_MOD} = 0
UNION ALL
SELECT 'orders',
       CAST(count(*) AS BIGINT)
FROM orders WHERE o_custkey % {TOMBSTONE_MOD} = 0
UNION ALL
SELECT 'lineitem',
       CAST(count(*) AS BIGINT)
FROM lineitem WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_custkey % {TOMBSTONE_MOD} = 0)
UNION ALL
SELECT 'events',
       CAST(count(*) AS BIGINT)
FROM events WHERE user_id % {TOMBSTONE_MOD} = 0
"""


# ---------------------------------------------------------------------------
# schema_contract_check — does the landed data still match the contract?
# ---------------------------------------------------------------------------

# The engine's documented column contract per table. Column NAMES are
# the cross-engine-stable surface (physical types legitimately vary —
# events.ts has shipped as two different parquet types; the
# type-level checks live in events_column_profile and the ts
# normalization helpers).
SCHEMA_CONTRACT = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "customer": ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier": ("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part": ("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders": (
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ),
    "lineitem": (
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ),
    "events": ("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings": ("vec_id", "embedding", "label"),
}


def schema_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract gate: per table, do the landed columns still
    match the engine's documented contract? Emits expected/actual
    counts, sorted missing/extra column lists, and a pass flag —
    the check a pipeline runs on every new drop BEFORE any query
    assumes the contract (a silently renamed or dropped column
    otherwise surfaces as a mid-DAG analysis error, or worse, a
    null-filled join).

    This is metadata work by design: only parquet footers are read
    (one driver-side schema probe per table and session), and the
    verdict frame is |tables| literal rows — no scan, no shuffle,
    identical cost at any data scale."""
    rows = []
    for table, expected in SCHEMA_CONTRACT.items():
        actual = load_table(spark, sf_dir, table).columns
        missing = sorted(set(expected) - set(actual))
        extra = sorted(set(actual) - set(expected))
        rows.append(
            (
                table,
                len(expected),
                len(actual),
                ",".join(missing),
                ",".join(extra),
                int(not missing and not extra),
            )
        )
    return spark.createDataFrame(
        rows,
        "table_name string, n_expected long, n_actual long, "
        "missing_cols string, extra_cols string, contract_ok long",
    )


def _contract_leg(table: str, expected: tuple) -> str:
    exp_list = ", ".join(f"'{c}'" for c in expected)
    actual = (
        f"SELECT column_name FROM information_schema.columns WHERE table_name = '{table}'"
    )
    return f"""
SELECT '{table}' AS table_name,
       CAST({len(expected)} AS BIGINT) AS n_expected,
       (SELECT CAST(count(*) AS BIGINT) FROM ({actual})) AS n_actual,
       (SELECT coalesce(string_agg(c, ',' ORDER BY c), '')
        FROM (SELECT unnest([{exp_list}]) AS c EXCEPT {actual})) AS missing_cols,
       (SELECT coalesce(string_agg(column_name, ',' ORDER BY column_name), '')
        FROM ({actual} EXCEPT SELECT unnest([{exp_list}]))) AS extra_cols,
       CAST((SELECT count(*) FROM (SELECT unnest([{exp_list}]) AS c EXCEPT {actual})) = 0
            AND (SELECT count(*) FROM ({actual} EXCEPT SELECT unnest([{exp_list}]))) = 0
            AS BIGINT) AS contract_ok"""


SCHEMA_CONTRACT_SQL = "\nUNION ALL\n".join(
    _contract_leg(t, cols) for t, cols in SCHEMA_CONTRACT.items()
)


# ---------------------------------------------------------------------------
# partition_layout_audit — date-partition sizing for the lakehouse
# ---------------------------------------------------------------------------

TARGET_FILE_MB = 128
# serialized-width estimate per events row: 8B id + 8B ts + 8B user
# + 8B value + the two variable-width string columns
_ROW_FIXED_BYTES = 32


def partition_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout audit for writing `events` partitioned by
    event date: per partition, the row count, an estimated
    serialized byte size (fixed numeric widths + actual string
    lengths), the file count needed to hit the TARGET_FILE_MB
    small-files sweet spot, and the partition's size relative to
    the average — the skew number that decides whether a date
    partitioning survives (a 20× hot day means date alone is the
    wrong key and needs an hour or bucket subsplit). The whole
    audit is one map-side-combined groupBy on the partition key;
    output is |days| rows."""
    ev = load_table(spark, sf_dir, "events")
    per_day = (
        ev.groupBy(F.to_date("ts").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.lit(_ROW_FIXED_BYTES)
                + F.length("event_type")
                + F.length("props")
            ).cast("long").alias("est_bytes"),
        )
    )
    avg_rows = per_day.agg(F.avg("n_rows").alias("avg_rows"))
    return (
        per_day.crossJoin(F.broadcast(avg_rows))
        .select(
            "event_date",
            "n_rows",
            "est_bytes",
            F.greatest(
                F.lit(1),
                F.ceil(F.col("est_bytes") / (TARGET_FILE_MB * 1024 * 1024)),
            ).cast("long").alias("files_recommended"),
            F.round(F.col("n_rows") / F.col("avg_rows") + 1e-9, 4).alias("vs_avg"),
        )
    )


PARTITION_LAYOUT_AUDIT_SQL = f"""
WITH per_day AS (
  SELECT CAST(ts AS DATE) AS event_date,
         count(*) AS n_rows,
         CAST(sum({_ROW_FIXED_BYTES} + length(event_type) + length(props)) AS BIGINT)
           AS est_bytes
  FROM events GROUP BY 1
),
a AS (SELECT avg(n_rows) AS avg_rows FROM per_day)
SELECT p.event_date, CAST(p.n_rows AS BIGINT) AS n_rows, p.est_bytes,
       greatest(1, CAST(ceil(p.est_bytes / ({TARGET_FILE_MB} * 1024.0 * 1024.0)) AS BIGINT))
         AS files_recommended,
       round(p.n_rows / a.avg_rows + 1e-9, 4) AS vs_avg
FROM per_day p CROSS JOIN a
"""


# ---------------------------------------------------------------------------
# benford_first_digit_audit — Benford's-law conformance check
# ---------------------------------------------------------------------------


def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over lineitem extended
    prices — the forensic data-quality check that flags fabricated
    or truncated numeric columns (organic multi-scale amounts
    follow log10(1+1/d); uniform synthetics don't, and the audit
    says so rather than assuming). Per digit 1-9: observed count,
    observed vs expected share, and the deviation; the headline
    MAD (mean absolute deviation across digits) rides on every row
    for a one-glance verdict against the ~0.015 conformance
    threshold auditors use. One map-side groupBy to 9 rows; the
    digit extraction is a string head on the scan."""
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    digit = F.substring(
        F.regexp_replace(F.col("l_extendedprice").cast("string"), r"[^1-9]", ""), 1, 1
    )
    obs = (
        li.filter(F.col("l_extendedprice") > 0)
        .groupBy(digit.cast("int").alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = obs.agg(F.sum("n").alias("t"))
    import math as _math

    expected = F.element_at(
        F.array(*[F.lit(_math.log10(1 + 1 / d)) for d in range(1, 10)]),
        F.col("digit"),
    )
    scored = (
        obs.crossJoin(F.broadcast(total))
        .withColumn("obs_share", F.col("n") / F.col("t"))
        .withColumn("exp_share", expected)
        .withColumn("abs_dev", F.abs(F.col("obs_share") - F.col("exp_share")))
    )
    mad = scored.agg(F.round(F.avg("abs_dev") + 1e-9, 6).alias("mad"))
    return (
        scored.crossJoin(F.broadcast(mad))
        .select(
            "digit",
            F.col("n").cast("long").alias("n_values"),
            F.round(F.col("obs_share") + 1e-9, 6).alias("obs_share"),
            F.round(F.col("exp_share") + 1e-9, 6).alias("benford_share"),
            F.round(F.col("abs_dev") + 1e-9, 6).alias("abs_deviation"),
            "mad",
            (F.col("mad") > 0.015).alias("nonconforming"),
        )
    )


def _benford_expected_sql() -> str:
    import math as _math

    return "[" + ", ".join(str(_math.log10(1 + 1 / d)) for d in range(1, 10)) + "]"


BENFORD_FIRST_DIGIT_SQL = f"""
WITH obs AS (
  SELECT CAST(substr(regexp_replace(CAST(l_extendedprice AS VARCHAR), '[^1-9]', '', 'g'), 1, 1)
              AS INT) AS digit,
         count(*) AS n
  FROM lineitem WHERE l_extendedprice > 0
  GROUP BY 1
),
total AS (SELECT sum(n) AS t FROM obs),
scored AS (
  SELECT digit, n, n * 1.0 / t AS obs_share,
         ({_benford_expected_sql()})[digit] AS exp_share
  FROM obs CROSS JOIN total
),
m AS (SELECT round(avg(abs(obs_share - exp_share)) + 1e-9, 6) AS mad FROM scored)
SELECT digit, CAST(n AS BIGINT) AS n_values,
       round(obs_share + 1e-9, 6) AS obs_share,
       round(exp_share + 1e-9, 6) AS benford_share,
       round(abs(obs_share - exp_share) + 1e-9, 6) AS abs_deviation,
       m.mad, m.mad > 0.015 AS nonconforming
FROM scored CROSS JOIN m
"""


# ---------------------------------------------------------------------------
# zone_map_skipping_audit — min-max pruning effectiveness per layout
# ---------------------------------------------------------------------------

ZONE_CHUNK_ROWS = 4096
ZONE_PRED_LO, ZONE_PRED_HI = 30.0, 40.0


def zone_map_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min-max) data-skipping audit: chunk the events
    table two ways — clustered by arrival (event_id ranges, the
    layout a time-ordered ingest produces) vs randomly scattered
    (md5-bucketed, the layout after a careless rewrite) — record
    each chunk's value min/max, and measure how many chunks a
    `value BETWEEN lo AND hi` predicate can skip under each layout.
    This is THE number that justifies clustering/Z-ordering: same
    data, same predicate, different file layout → different scan
    cost. Per layout: chunk count, skippable chunks, skip fraction,
    and the avg chunk value-span (the clustering-quality proxy).
    One groupBy per layout at |chunks| output rows."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    layouts = [
        ("arrival_clustered", F.floor(F.col("event_id") / ZONE_CHUNK_ROWS)),
        ("random_scatter", md5_long(F.col("event_id").cast("string"), salt="zm:") % 16),
    ]
    outs = []
    for name, chunk in layouts:
        zones = ev.groupBy(chunk.alias("chunk")).agg(
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        skippable = (F.col("vmax") < ZONE_PRED_LO) | (F.col("vmin") > ZONE_PRED_HI)
        outs.append(
            zones.agg(
                F.lit(name).alias("layout"),
                F.count(F.lit(1)).cast("long").alias("n_chunks"),
                F.sum(skippable.cast("long")).alias("n_skippable"),
                F.round(
                    F.avg(skippable.cast("double")) + 1e-9, 6
                ).alias("skip_fraction"),
                F.round(F.avg(F.col("vmax") - F.col("vmin")) + 1e-9, 4).alias(
                    "avg_chunk_span"
                ),
            )
        )
    return reduce(DataFrame.unionByName, outs)


ZONE_MAP_SKIPPING_SQL = f"""
WITH arrival AS (
  SELECT CAST(floor(event_id / {ZONE_CHUNK_ROWS}) AS BIGINT) AS chunk,
         min(value) AS vmin, max(value) AS vmax
  FROM events GROUP BY 1
),
scatter AS (
  SELECT {md5_long_sql('CAST(event_id AS VARCHAR)', salt='zm:')} % 16 AS chunk,
         min(value) AS vmin, max(value) AS vmax
  FROM events GROUP BY 1
)
SELECT 'arrival_clustered' AS layout,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN vmax < {ZONE_PRED_LO} OR vmin > {ZONE_PRED_HI}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable,
       round(avg(CASE WHEN vmax < {ZONE_PRED_LO} OR vmin > {ZONE_PRED_HI}
                      THEN 1.0 ELSE 0.0 END) + 1e-9, 6) AS skip_fraction,
       round(avg(vmax - vmin) + 1e-9, 4) AS avg_chunk_span
FROM arrival
UNION ALL
SELECT 'random_scatter',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN vmax < {ZONE_PRED_LO} OR vmin > {ZONE_PRED_HI}
                     THEN 1 ELSE 0 END) AS BIGINT),
       round(avg(CASE WHEN vmax < {ZONE_PRED_LO} OR vmin > {ZONE_PRED_HI}
                      THEN 1.0 ELSE 0.0 END) + 1e-9, 6),
       round(avg(vmax - vmin) + 1e-9, 4)
FROM scatter
"""


# ---------------------------------------------------------------------------
# bloom_join_prune — Bloom-filter pre-join pruning with measured FP rate
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 18  # bits (≈1.9% FP at sf0.1's 30k dim keys; 8 KiB-word bitmap)
BLOOM_K = 4  # hash functions


def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning, the runtime-filter technique a
    100 TB join leans on when the dim-side predicate is selective:
    build a BLOOM_M-bit / BLOOM_K-hash filter over urgent orders'
    keys, ship it to the fact scan as ONE broadcast packed-bitmap
    row (BLOOM_M/32 int64 words — 32 KiB at 2^18 bits, bounded by
    M, never by table size), and pre-filter lineitem order keys
    map-side (all K md5-derived bit positions must be set) BEFORE
    any shuffle would happen. The audit emits the measured numbers
    a query planner wants: keys passing the filter, exact matches,
    false positives, and the realized FP rate — md5-derived
    positions make every number value-exact in the DuckDB oracle.

    Scale design: probes are O(1) word-index + shift + mask against
    the broadcast bitmap (NOT an O(|set bits|) array_contains scan
    — that variant measured 14× slower at sf0.1); the fact side is
    touched only map-side (distinct keys → K bit tests), and only
    aggregate counts leave the scan stage."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    dim_keys = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").cast("string").alias("k")
    )
    pos_cols = [
        (md5_long(F.col("k"), salt=f"{i}:") % BLOOM_M).alias(f"p{i}")
        for i in range(BLOOM_K)
    ]
    # Pack the filter into a REAL bitmap (BLOOM_M/32 words of 32
    # bits each, one array row): probes are then O(1) element_at +
    # shift + mask, not an O(|set bits|) array_contains scan — the
    # difference between a runtime filter and a per-row table scan.
    n_words = BLOOM_M // 32
    words = (
        dim_keys.select(F.explode(F.array(*[c for c in pos_cols])).alias("bit"))
        .select(
            (F.col("bit") / 32).cast("int").alias("word"),
            F.expr("shiftleft(1L, CAST(bit % 32 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("mask"))
    )
    # densify to the full word domain, then ONE sort_array builds the
    # positional bitmap (a map-typed lookup here would be an O(|map|)
    # linear scan per element — Spark maps are array-backed)
    dense = (
        spark.range(n_words)
        .withColumnRenamed("id", "word")
        .join(words, "word", "left")
        .select("word", F.coalesce("mask", F.lit(0).cast("long")).alias("mask"))
    )
    bits = dense.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("word", "mask"))),
            lambda x: x["mask"],
        ).alias("bitmap"),
        F.sum(F.bit_count("mask")).cast("long").alias("n_bits_set_v"),
    )
    fact_keys = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").cast("string").alias("k"))
        .distinct()
    )
    probed = fact_keys.select("k", *pos_cols).crossJoin(F.broadcast(bits.select("bitmap")))
    bit_test = [
        F.expr(
            f"(shiftright(element_at(bitmap, CAST(p{i} / 32 AS INT) + 1),"
            f" CAST(p{i} % 32 AS INT)) & 1) = 1"
        )
        for i in range(BLOOM_K)
    ]
    passed = probed.withColumn(
        "pass", bit_test[0] & bit_test[1] & bit_test[2] & bit_test[3]
    )
    # ground-truth leg: dim_keys is SF-scaled (urgent orders ≈ 20% of
    # orders) — a broadcast HINT here would force an OOM-sized build
    # side at 100 TB, so it shuffle-semi-joins; AQE may upgrade to a
    # broadcast at runtime when the stats genuinely allow it.
    truth = fact_keys.join(dim_keys, "k", "left_semi").agg(
        F.count(F.lit(1)).alias("n_true_match")
    )
    stats = passed.agg(
        F.count(F.lit(1)).alias("n_fact_keys"),
        F.sum(F.col("pass").cast("long")).alias("n_pass"),
    )
    n_bits = bits.select(F.col("n_bits_set_v").alias("n_bits_set"))
    n_dim = dim_keys.agg(F.count(F.lit(1)).alias("n_dim_keys"))
    return (
        stats.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(n_bits))
        .crossJoin(F.broadcast(n_dim))
        .select(
            F.lit(BLOOM_M).cast("int").alias("m_bits"),
            F.lit(BLOOM_K).cast("int").alias("k_hashes"),
            F.col("n_dim_keys").cast("long").alias("n_dim_keys"),
            F.col("n_bits_set").cast("long").alias("n_bits_set"),
            F.col("n_fact_keys").cast("long").alias("n_fact_keys"),
            F.col("n_pass").cast("long").alias("n_pass"),
            F.col("n_true_match").cast("long").alias("n_true_match"),
            F.round(
                (F.col("n_pass") - F.col("n_true_match"))
                / F.greatest(F.col("n_fact_keys") - F.col("n_true_match"), F.lit(1))
                + 1e-9,
                6,
            ).alias("fp_rate"),
        )
    )


def _bloom_pos_sql(i: int) -> str:
    return f"({md5_long_sql('k', salt=f'{i}:')} % {BLOOM_M})"


BLOOM_JOIN_PRUNE_SQL = f"""
WITH dim_keys AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders
  WHERE o_orderpriority = '1-URGENT'
),
bits AS (
  SELECT DISTINCT bit FROM dim_keys,
  unnest([{", ".join(_bloom_pos_sql(i) for i in range(BLOOM_K))}]) t(bit)
),
bitset AS (SELECT list(bit) AS bs FROM bits),
fact_keys AS (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
probed AS (
  SELECT k,
         {" AND ".join(f"list_contains(bs, {_bloom_pos_sql(i)})" for i in range(BLOOM_K))}
           AS pass
  FROM fact_keys CROSS JOIN bitset
),
truth AS (
  SELECT CAST(count(*) AS BIGINT) AS n_true_match
  FROM fact_keys f WHERE EXISTS (SELECT 1 FROM dim_keys d WHERE d.k = f.k)
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_fact_keys,
         CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
  FROM probed
)
SELECT CAST({BLOOM_M} AS INT) AS m_bits, CAST({BLOOM_K} AS INT) AS k_hashes,
       (SELECT CAST(count(*) AS BIGINT) FROM dim_keys) AS n_dim_keys,
       (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
       s.n_fact_keys, s.n_pass, t.n_true_match,
       round((s.n_pass - t.n_true_match) * 1.0
             / greatest(s.n_fact_keys - t.n_true_match, 1) + 1e-9, 6) AS fp_rate
FROM stats s CROSS JOIN truth t
"""


# ---------------------------------------------------------------------------
# table_stats_profile — ANALYZE-style column statistics across the warehouse
# ---------------------------------------------------------------------------

# (table, column) pairs profiled — one representative key + one
# value column per table, the stats a cost-based optimizer (and a
# data-quality baseline) actually consumes.
_STATS_SPEC: list[tuple[str, str]] = [
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("customer", "c_mktsegment"),
    ("supplier", "s_suppkey"),
    ("part", "p_brand"),
    ("orders", "o_custkey"),
    ("orders", "o_orderpriority"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_returnflag"),
    ("events", "user_id"),
    ("events", "event_type"),
    ("documents", "source"),
    ("embeddings", "label"),
]


def table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE for the whole warehouse in one result: row
    count, null count, distinct count, and distinct ratio per
    profiled column — the statistics Catalyst's cost-based optimizer
    joins/reorders from, and the baseline a data-quality monitor
    diffs run-over-run (a key column whose distinct ratio drops is
    a silent duplication incident).

    Scale: one map-side-combined aggregate per profiled table (each
    is a single pass producing ONE row; count_distinct shuffles the
    column's value space, the unavoidable cost of an exact
    distinct); the union is |spec| rows."""
    frames = []
    for tbl, col in _STATS_SPEC:
        t = load_table(spark, sf_dir, tbl)
        frames.append(
            t.agg(
                F.lit(tbl).alias("tbl"),
                F.lit(col).alias("col"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col(col).isNull().cast("long")).alias("n_nulls"),
                F.countDistinct(col).alias("n_distinct"),
                F.round(
                    F.countDistinct(col) / F.count(F.lit(1)) + 1e-9, 6
                ).alias("distinct_ratio"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


TABLE_STATS_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{tbl}' AS tbl, '{col}' AS col,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
       round(count(DISTINCT {col})::DOUBLE / count(*) + 1e-9, 6) AS distinct_ratio
FROM {tbl}"""
    for tbl, col in _STATS_SPEC
)


QUERIES = {
    "key_skew_profile": (key_skew_profile, KEY_SKEW_PROFILE_SQL),
    "table_stats_profile": (table_stats_profile, TABLE_STATS_PROFILE_SQL),
    "partition_layout_audit": (partition_layout_audit, PARTITION_LAYOUT_AUDIT_SQL),
    "bloom_join_prune": (bloom_join_prune, BLOOM_JOIN_PRUNE_SQL),
    "zone_map_skipping_audit": (zone_map_skipping_audit, ZONE_MAP_SKIPPING_SQL),
    "benford_first_digit_audit": (benford_first_digit_audit, BENFORD_FIRST_DIGIT_SQL),
    "referential_integrity_audit": (referential_integrity_audit, REFERENTIAL_INTEGRITY_SQL),
    "deletion_cascade_audit": (deletion_cascade_audit, DELETION_CASCADE_SQL),
    "schema_contract_check": (schema_contract_check, SCHEMA_CONTRACT_SQL),
}
