"""Temporal / event-stream operators (batch plans).

Structured Streaming mirrors live in ``streaming/events.py`` — the
batch plans here share the same windowing semantics, which is the
Spark way: one declarative transform, run over a bounded scan today
and a stream tomorrow.

Timestamp parity note: events.ts has shipped as both parquet
TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across testdata generations;
``sources.tables.events_ts_us`` normalizes either to epoch-µs int64
(matching DuckDB's ``epoch_us(ts)``), so all bucket math here runs
on identical int64 in both engines — no float time math anywhere.

Scale design: every window/sessionization partitions by user_id, so
state is distributed by key; the as-of join ranks per-event matches
with a window function instead of a driver loop.

Stages several queries share have one builder each, with its DuckDB
twin next to it (a string builder that never calls the Spark one):
``_sessions``/``_sessions_sql`` (30-minute-gap sessions), ``_gaps``
(per-user inter-event gaps), ``_user_days`` (distinct (day, user)
pairs) and ``_funnel_steps``/``_FUNNEL_STEPS_SQL`` (first view, click
and purchase per user). ``operators/timeseries.py`` holds the hourly
series and forecast face, ``streaming/events.py`` the stream-stream
interval join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datatransformertools_spark.functions.hashing import md5_long, md5_long_sql
from datatransformertools_spark.operators.similarity import (
    _init_cents,
    _lloyd_final,
    _lloyd_sql,
    _lloyd_update,
)
from datatransformertools_spark.sources.tables import events_ts_us, load_table

FIVE_MIN_US = 300_000_000
SESSION_GAP_US = 1_800_000_000  # 30 min


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn("ts_us", events_ts_us(ev))


# ---------------------------------------------------------------------------
# events_tumbling_agg — 5-minute tumbling windows per event type
# ---------------------------------------------------------------------------


def events_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir)
    win = (F.expr(f"ts_us div {FIVE_MIN_US}") * FIVE_MIN_US).alias("window_start_us")
    return (
        ev.groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + 1e-9, 4).alias("sum_value"),
            F.round(F.avg("value") + 1e-9, 4).alias("avg_value"),
        )
    )


EVENTS_TUMBLING_AGG_SQL = f"""
SELECT
  (epoch_us(ts) // {FIVE_MIN_US}) * {FIVE_MIN_US} AS window_start_us,
  event_type,
  count(*)                      AS n_events,
  round(sum(value) + 1e-9, 4)   AS sum_value,
  round(avg(value) + 1e-9, 4)   AS avg_value
FROM events
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# events_sessionize — 30-minute-gap sessions per user
# ---------------------------------------------------------------------------


def _sessions(ev: DataFrame) -> DataFrame:
    """Add ``new_session`` (1 when the gap to the user's previous event
    is strictly greater than ``SESSION_GAP_US``) and the running
    ``session_idx`` to a (user_id, event_id, ts_us, …) frame. One
    user_id window pass ordered by (ts_us, event_id): equal timestamps
    break by event_id."""
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(order)
    flagged = ev.withColumn(
        "new_session",
        F.when(prev.isNull() | (F.col("ts_us") - prev > SESSION_GAP_US), 1).otherwise(0),
    )
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return flagged.withColumn("session_idx", F.sum("new_session").over(running))


def _sessions_sql(*cols: str) -> str:
    """DuckDB twin of ``_sessions``: the ``ev``/``flagged``/``sessions``
    CTEs over events, carrying ``cols`` along."""
    extra = "".join(f", {c}" for c in cols)
    return f"""WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us{extra} FROM events
),
flagged AS (
  SELECT *,
    CASE WHEN lag(ts_us) OVER w IS NULL
              OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
         THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sessions AS (
  SELECT *,
    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM flagged
)"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "ts_us", "value")
    return (
        _sessions(ev)
        .groupBy("user_id", "session_idx")
        .agg(
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + 1e-9, 4).alias("total_value"),
        )
    )


EVENTS_SESSIONIZE_SQL = f"""
{_sessions_sql("value")}
SELECT user_id, session_idx,
       min(ts_us) AS session_start_us,
       max(ts_us) AS session_end_us,
       count(*)   AS n_events,
       round(sum(value) + 1e-9, 4) AS total_value
FROM sessions
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# events_asof_join — each event matched to the latest order of its
# user at a per-event cutoff date (deterministic as-of semantics)
# ---------------------------------------------------------------------------


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the union-merge pattern: interleave both
    streams sorted by (user, time) and carry the latest order
    forward with last(ignorenulls) — ONE window pass over n+m rows
    per user instead of the n·m inequality join a naive as-of
    plans. Orders at the same date sort before events (ties are
    inclusive, `o_date <= cutoff`) and by ascending orderkey so the
    carried order is the max-date, max-key one — identical
    semantics to the ranked-join oracle."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    cutoff = F.date_add(F.lit("1995-01-01").cast("date"), (F.col("event_id") % 2400).cast("int"))
    ev = ev.withColumn("cutoff_date", cutoff)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("o_date"), "o_totalprice"
    )
    ev_rows = ev.select(
        F.col("user_id").alias("uid"),
        F.col("cutoff_date").alias("ts"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("date").alias("o_date"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    ord_rows = orders.select(
        F.col("o_custkey").alias("uid"),
        F.col("o_date").alias("ts"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        "o_date",
        "o_totalprice",
    )
    merged = ev_rows.unionByName(ord_rows)
    carry = Window.partitionBy("uid").orderBy(
        "ts", "is_event", F.col("o_orderkey").asc_nulls_last()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_last = merged.select(
        "*",
        F.last("o_orderkey", ignorenulls=True).over(carry).alias("last_orderkey"),
        F.last("o_date", ignorenulls=True).over(carry).alias("last_date"),
        F.last("o_totalprice", ignorenulls=True).over(carry).alias("last_price"),
    )
    return with_last.filter(F.col("is_event") == 1).select(
        "event_id",
        F.col("uid").alias("user_id"),
        F.col("ts").alias("cutoff_date"),
        F.col("last_orderkey").alias("o_orderkey"),
        F.col("last_date").alias("o_orderdate"),
        F.round(F.col("last_price") + 1e-9, 4).alias("o_totalprice"),
    )


EVENTS_ASOF_JOIN_SQL = """
WITH ev AS (
  SELECT event_id, user_id,
         DATE '1995-01-01' + CAST(event_id % 2400 AS INTEGER) AS cutoff_date
  FROM events
),
joined AS (
  SELECT ev.event_id, ev.user_id, ev.cutoff_date,
         o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_date, o.o_totalprice
  FROM ev LEFT JOIN orders o
    ON ev.user_id = o.o_custkey AND CAST(o.o_orderdate AS DATE) <= ev.cutoff_date
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_id
                               ORDER BY o_date DESC NULLS LAST,
                                        o_orderkey DESC NULLS LAST) AS rn
  FROM joined
)
SELECT event_id, user_id, cutoff_date, o_orderkey,
       o_date AS o_orderdate,
       round(o_totalprice + 1e-9, 4) AS o_totalprice
FROM ranked WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# events_json_extract — JSON property extraction + aggregation
# ---------------------------------------------------------------------------


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    k = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k") + 1e-9, 4).alias("avg_k"),
        )
    )


EVENTS_JSON_EXTRACT_SQL = r"""
SELECT event_type,
       count(*) AS n_events,
       min(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER)) AS min_k,
       max(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER)) AS max_k,
       round(avg(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER)) + 1e-9, 4) AS avg_k
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# events_top_k_per_window — windowed top-k (rank inside time buckets)
# ---------------------------------------------------------------------------

HOUR_US = 3_600_000_000
WINDOW_TOP_K = 3


def events_top_k_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 users by total value within each 1-hour tumbling
    window. The rank partitions by window, so every sort is local
    to one window's partition — no global ordering anywhere."""
    ev = _events_us(spark, sf_dir)
    win = (F.expr(f"ts_us div {HOUR_US}") * HOUR_US).alias("window_start_us")
    per_user = (
        ev.groupBy(win, "user_id")
        .agg(F.round(F.sum("value") + 1e-9, 4).alias("total_value"))
    )
    rank = F.row_number().over(
        Window.partitionBy("window_start_us").orderBy(F.col("total_value").desc(), F.col("user_id"))
    )
    return (
        per_user.withColumn("rank_in_window", rank)
        .filter(F.col("rank_in_window") <= WINDOW_TOP_K)
    )


EVENTS_TOP_K_SQL = f"""
WITH per_user AS (
  SELECT (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS window_start_us,
         user_id,
         round(sum(value) + 1e-9, 4) AS total_value
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY window_start_us
                               ORDER BY total_value DESC, user_id) AS rank_in_window
  FROM per_user
)
SELECT * FROM ranked WHERE rank_in_window <= {WINDOW_TOP_K}
"""

# ---------------------------------------------------------------------------
# events_value_quantiles — exact distributed percentiles
# ---------------------------------------------------------------------------


def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/median/p75/p95 of value per event type. Spark's
    `percentile` is the exact (sort-based) aggregate — the
    approximate t-digest variant (`percentile_approx`) is the
    100 TB default and is error-bounded in tests/test_sketches.py;
    this query is the exact baseline both are judged against."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    qs = {"p25": 0.25, "median": 0.5, "p75": 0.75, "p95": 0.95}
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.round(F.expr(f"percentile(value, {q})") + 1e-9, 4).alias(name)
            for name, q in qs.items()
        ],
    )


EVENTS_VALUE_QUANTILES_SQL = """
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.25) + 1e-9, 4) AS p25,
       round(quantile_cont(value, 0.5)  + 1e-9, 4) AS median,
       round(quantile_cont(value, 0.75) + 1e-9, 4) AS p75,
       round(quantile_cont(value, 0.95) + 1e-9, 4) AS p95
FROM events
GROUP BY event_type
"""

# ---------------------------------------------------------------------------
# events_funnel — ordered view→click→purchase conversion
# ---------------------------------------------------------------------------


def _funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: the first view ``v``, the first click at or after it
    ``c`` and the first purchase at or after that click ``p`` (null
    where the step never happens). Three chained conditional-min
    windows over ONE per-user partitioning — Spark plans a single
    shuffle and evaluates the stages in consecutive projections, so
    the funnel costs one pass regardless of depth."""
    ev = _events_us(spark, sf_dir).select("user_id", "event_type", "ts_us")
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn("v", F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(w))
    s2 = s1.withColumn(
        "c",
        F.min(
            F.when((F.col("event_type") == "click") & (F.col("ts_us") >= F.col("v")), F.col("ts_us"))
        ).over(w),
    )
    s3 = s2.withColumn(
        "p",
        F.min(
            F.when((F.col("event_type") == "purchase") & (F.col("ts_us") >= F.col("c")), F.col("ts_us"))
        ).over(w),
    )
    return s3.groupBy("user_id").agg(
        F.max("v").alias("v"), F.max("c").alias("c"), F.max("p").alias("p")
    )


_FUNNEL_STEPS_SQL = """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
s1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
              OVER (PARTITION BY user_id) AS v
  FROM ev
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts_us >= v THEN ts_us END)
              OVER (PARTITION BY user_id) AS c
  FROM s1
),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us >= c THEN ts_us END)
              OVER (PARTITION BY user_id) AS p
  FROM s2
),
per_user AS (
  SELECT user_id, max(v) AS v, max(c) AS c, max(p) AS p FROM s3 GROUP BY user_id
)"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AFTER the
    first view, then purchased AFTER that click (`_funnel_steps`)."""
    return _funnel_steps(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("v").alias("viewed"),
        F.count("c").alias("clicked_after_view"),
        F.count("p").alias("purchased_after_click"),
    )


EVENTS_FUNNEL_SQL = f"""
{_FUNNEL_STEPS_SQL}
SELECT count(*)  AS n_users,
       count(v)  AS viewed,
       count(c)  AS clicked_after_view,
       count(p)  AS purchased_after_click
FROM per_user
"""

# ---------------------------------------------------------------------------
# orders_cohort_retention — first-order cohort × month offset
# ---------------------------------------------------------------------------


def orders_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: customers grouped by first-order month,
    counted per months-since-cohort. First-order month is a per-key
    window min (no self-join); the final matrix is one groupBy over
    (cohort, offset)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    )
    w = Window.partitionBy("o_custkey")
    with_cohort = orders.withColumn("cohort", F.min("month").over(w))
    offset = (
        (F.year("month") - F.year("cohort")) * 12 + (F.month("month") - F.month("cohort"))
    ).alias("month_offset")
    return (
        with_cohort.select("o_custkey", "cohort", offset)
        .groupBy("cohort", "month_offset")
        .agg(F.count_distinct(F.col("o_custkey")).alias("n_customers"))
    )


ORDERS_COHORT_SQL = """
WITH o AS (
  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS month FROM orders
),
with_cohort AS (
  SELECT *, min(month) OVER (PARTITION BY o_custkey) AS cohort FROM o
)
SELECT cohort,
       (year(month) - year(cohort)) * 12 + (month(month) - month(cohort)) AS month_offset,
       count(DISTINCT o_custkey) AS n_customers
FROM with_cohort
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# events_range_join_binned — range join via discretized bins
# ---------------------------------------------------------------------------

TIERS = [
    ("bronze", 0.0, 25.0),
    ("silver", 25.0, 50.0),
    ("gold", 50.0, 75.0),
    ("platinum", 75.0, 1e9),
]
BIN_W = 25.0
BIN_CAP = 100  # last bin; must exceed every finite tier bound / BIN_W


def events_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (value BETWEEN lo AND hi) via bin discretization.

    A naive big×big range join plans as a nested-loop; the scale
    technique is to shatter each range into fixed-width bins, join
    on the bin EQUALITY key (hash join!), then re-check the exact
    predicate. Here tiers are deliberately tiny (the oracle is the
    plain range join) — the point is the pattern: bin width trades
    fan-out for candidate precision, and the shuffle is an
    equi-shuffle either way."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    tiers = spark.sql(
        "SELECT tier, CAST(lo AS DOUBLE) lo, CAST(hi AS DOUBLE) hi FROM (VALUES "
        + ", ".join(f"('{t}', {lo}, {hi})" for t, lo, hi in TIERS)
        + ") AS t(tier, lo, hi)"
    )
    # Explode each tier into the bins it overlaps, capping the
    # open-ended tier's fan-out at BIN_CAP — and clamp the EVENT bin
    # to the same cap, so any value past the cap still lands in the
    # last bin and matches the open-ended tier there (the exact
    # range predicate below re-checks it). BIN_CAP only has to sit
    # above every finite tier boundary's bin (here ≤ 3), never above
    # the data's max, so no value can be silently dropped.
    max_bin = F.least(F.floor(F.col("hi") / BIN_W), F.lit(float(BIN_CAP))).cast("long")
    binned_tiers = tiers.withColumn(
        "bin", F.explode(F.sequence(F.floor(F.col("lo") / BIN_W).cast("long"), max_bin))
    )
    binned_ev = ev.withColumn(
        "bin", F.least(F.floor(F.col("value") / BIN_W), F.lit(float(BIN_CAP))).cast("long")
    )
    return (
        binned_ev.join(F.broadcast(binned_tiers), "bin")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .select("event_id", F.round(F.col("value") + 1e-9, 4).alias("value"), "tier")
    )


EVENTS_RANGE_JOIN_SQL = f"""
WITH tiers AS (
  SELECT * FROM (VALUES {", ".join(f"('{t}', {lo}, {hi})" for t, lo, hi in TIERS)}) AS t(tier, lo, hi)
)
SELECT event_id, round(value + 1e-9, 4) AS value, tier
FROM events JOIN tiers ON value >= lo AND value < hi
"""

# ---------------------------------------------------------------------------
# events_multi_rollup — hypertable-style continuous-aggregate chain
# ---------------------------------------------------------------------------

ROLLUP_RESOLUTIONS = (("5m", 300_000_000), ("1h", 3_600_000_000), ("1d", 86_400_000_000))


def events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup (5m → 1h → 1d) where each coarser
    level REAGGREGATES the finer one instead of rescanning raw —
    the continuous-aggregate pattern: raw is read once, the 1h pass
    touches |5m-windows| rows, the 1d pass |1h-windows| rows.
    count/sum reaggregate losslessly (avg would be derived as
    sum/count at read time)."""
    ev = _events_us(spark, sf_dir)
    res5, res1h, res1d = (us for _, us in ROLLUP_RESOLUTIONS)
    fine = (
        ev.groupBy((F.expr(f"ts_us div {res5}") * res5).alias("w5"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .localCheckpoint()  # the materialized 5m aggregate table
    )
    hourly = fine.groupBy((F.expr(f"w5 div {res1h}") * res1h).alias("w1h")).agg(
        F.sum("n").alias("n"), F.sum("s").alias("s")
    )
    daily = hourly.groupBy((F.expr(f"w1h div {res1d}") * res1d).alias("w1d")).agg(
        F.sum("n").alias("n"), F.sum("s").alias("s")
    )
    out = None
    for name, df, col in (("5m", fine, "w5"), ("1h", hourly, "w1h"), ("1d", daily, "w1d")):
        level = df.select(
            F.lit(name).alias("resolution"),
            F.col(col).alias("window_start_us"),
            F.col("n").alias("n_events"),
            F.round(F.col("s") + 1e-9, 4).alias("sum_value"),
        )
        out = level if out is None else out.unionByName(level)
    return out


EVENTS_MULTI_ROLLUP_SQL = f"""
WITH fine AS (
  SELECT (epoch_us(ts) // {ROLLUP_RESOLUTIONS[0][1]}) * {ROLLUP_RESOLUTIONS[0][1]} AS w5,
         count(*) AS n, sum(value) AS s
  FROM events GROUP BY 1
),
hourly AS (
  SELECT (w5 // {ROLLUP_RESOLUTIONS[1][1]}) * {ROLLUP_RESOLUTIONS[1][1]} AS w1h,
         CAST(sum(n) AS BIGINT) AS n, sum(s) AS s
  FROM fine GROUP BY 1
),
daily AS (
  SELECT (w1h // {ROLLUP_RESOLUTIONS[2][1]}) * {ROLLUP_RESOLUTIONS[2][1]} AS w1d,
         CAST(sum(n) AS BIGINT) AS n, sum(s) AS s
  FROM hourly GROUP BY 1
)
SELECT '5m' AS resolution, w5 AS window_start_us, n AS n_events, round(s + 1e-9, 4) AS sum_value FROM fine
UNION ALL
SELECT '1h', w1h, n, round(s + 1e-9, 4) FROM hourly
UNION ALL
SELECT '1d', w1d, n, round(s + 1e-9, 4) FROM daily
"""

# ---------------------------------------------------------------------------
# events_user_mad — grouped-map applyInPandas (custom per-key kernel)
# ---------------------------------------------------------------------------


def events_user_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust dispersion: median and median-absolute-
    deviation of event values, entirely in JVM built-ins (r12,
    guide §4.1): the exact `percentile` aggregate computes the
    median as a window over the user partition, then the SAME
    partitioning feeds the final aggregate (no second exchange —
    window and groupBy share the user_id hash), where the MAD is
    percentile(|value − median|, 0.5). The previous applyInPandas
    kernel shipped every event row through the Python worker to
    emit one row per user; built-ins keep the whole plan in
    WholeStageCodegen and shuffle the same bytes once."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    w = Window.partitionBy("user_id")
    dev = ev.withColumn("med", F.percentile("value", F.lit(0.5)).over(w))
    return dev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.first("med") + 1e-9, 6).alias("median_value"),
        F.round(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)) + 1e-9, 6
        ).alias("mad_value"),
    )


EVENTS_USER_MAD_SQL = """
SELECT user_id,
       count(*) AS n_events,
       round(median(value) + 1e-9, 6) AS median_value,
       round(mad(value) + 1e-9, 6)    AS mad_value
FROM events
GROUP BY user_id
"""

# ---------------------------------------------------------------------------
# events_skew_join_salted — hot-key join via explicit salting
# ---------------------------------------------------------------------------

N_SALT = 8


def events_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events ⋈ per-user order profile with explicit key salting.

    Event streams are Zipf-skewed by user; a plain shuffle join puts
    every row of a hot user in one task. Salting fans each hot key
    over N_SALT reducers: the big side gets salt = event_id % N_SALT
    appended to its key, the small side is exploded into N_SALT
    copies. AQE's skew handling does this adaptively at runtime —
    this operator is the explicit form, and its oracle is the plain
    (unsalted) join, proving salting never changes results."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    profile = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice") + 1e-9, 4).alias("lifetime_value"),
        )
    )
    salted_profile = profile.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1)))
    )
    salted_ev = ev.withColumn("salt", (F.col("event_id") % N_SALT).cast("int"))
    return (
        salted_ev.join(
            salted_profile,
            (salted_ev.user_id == salted_profile.o_custkey)
            & (salted_ev.salt == salted_profile.salt),
        )
        .select("event_id", "user_id", "n_orders", "lifetime_value")
    )


EVENTS_SKEW_JOIN_SALTED_SQL = """
WITH profile AS (
  SELECT o_custkey,
         count(*) AS n_orders,
         round(sum(o_totalprice) + 1e-9, 4) AS lifetime_value
  FROM orders GROUP BY 1
)
SELECT event_id, user_id, n_orders, lifetime_value
FROM events JOIN profile ON user_id = o_custkey
"""


# ---------------------------------------------------------------------------
# events_hopping_agg — native sliding (hopping) windows
# ---------------------------------------------------------------------------

HOP_WIN_US = 600_000_000  # 10-minute window
HOP_SLIDE_US = 300_000_000  # sliding every 5 minutes


def events_hopping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows via Spark's native `F.window` with a
    slide: 10-minute windows every 5 minutes, so each event lands in
    exactly win/slide = 2 windows. The operator fans out map-side
    (TimeWindow explodes before the exchange) and then runs the same
    partial-agg shuffle as a tumbling window — the oracle replays the
    fan-out arithmetic with an explicit 2-row cross join."""
    ev = _events_us(spark, sf_dir).withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
    return (
        ev.groupBy(
            F.window("event_time", "10 minutes", "5 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + 1e-9, 4).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


EVENTS_HOPPING_AGG_SQL = f"""
SELECT (epoch_us(ts) // {HOP_SLIDE_US} - k) * {HOP_SLIDE_US} AS window_start_us,
       event_type,
       count(*)                    AS n_events,
       round(sum(value) + 1e-9, 4) AS sum_value
FROM events CROSS JOIN range(0, {HOP_WIN_US // HOP_SLIDE_US}) t(k)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# events_user_count_hll — HyperLogLog distinct users (the sketch path)
# ---------------------------------------------------------------------------


def events_user_count_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via `approx_count_distinct`
    (HyperLogLog++). At 100 TB exact COUNT(DISTINCT) shuffles every
    key once; the HLL sketch merges in constant memory per group —
    this is the default cardinality path at scale. Sketch estimates
    are implementation-specific, so there is no cross-engine oracle
    (the driver records the rows-only check); the ≤2%-error contract
    vs the exact count is asserted in tests/test_sketches.py."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# events_rolling_avg — per-user row-frame moving average
# ---------------------------------------------------------------------------


def events_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling mean of `value` over the last 5 events
    (ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), ordered by
    (ts, event_id) so ties are deterministic. One shuffle on
    user_id; the frame is row-bounded, so state per row is O(5)
    and the window never buffers a whole user's history."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-4, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w) + 1e-9, 4).alias("rolling_avg_5"),
    )


EVENTS_ROLLING_AVG_SQL = """
SELECT event_id, user_id,
       round(avg(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) + 1e-9, 4) AS rolling_avg_5
FROM events
"""


# ---------------------------------------------------------------------------
# events_value_quantiles_sketch — t-digest-style approximate quantiles
# ---------------------------------------------------------------------------


def events_value_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p25/median/p75/p95 per event type via
    `percentile_approx` (Greenwald-Khanna sketch, accuracy 10000).
    The constant-memory quantile path at 100 TB — the exact
    sort-based `events_value_quantiles` is the baseline it is
    error-bounded against in tests/test_sketches.py. Sketch
    estimates are engine-specific, so there is no cross-engine
    oracle (rows-only at the gate)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    qs = {"p25": 0.25, "median": 0.5, "p75": 0.75, "p95": 0.95}
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.round(F.percentile_approx("value", q, 10000) + 1e-9, 4).alias(f"{name}_approx")
            for name, q in qs.items()
        ],
    )


# ---------------------------------------------------------------------------
# sketch error-bound companions — put the sketch CONTRACTS under the
# value-checked gate. The estimates themselves are engine-specific
# (no oracle can reproduce Spark's HLL++/GK state), but the claim
# that makes them usable at 100 TB — "within ε of exact" — is
# checkable: compute sketch AND exact twin in one Spark plan, emit
# the boolean verdict, and let the oracle assert the all-true frame.
# A sketch drifting out of contract flips a row to 0 and the gate
# hash-mismatches.
# ---------------------------------------------------------------------------

# rsd=0.01 → σ ≈ 1%; 5% is a ≥5σ acceptance band (tests assert ≤2%)
HLL_REL_ERR_BOUND = 0.05
# percentile_approx accuracy 10⁴ → rank error ≤ 10⁻⁴; accept the
# value if it lies between the exact quantiles at p ∓ 0.005 (50×)
GK_RANK_EPS = 0.005


def events_user_count_hll_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL error contract under the gate: per event type, exact
    distinct users (oracle-checkable) plus a within-bound flag for
    the HLL++ estimate (|approx−exact|/exact ≤ 5%). One scan, one
    shuffle — the exact count_distinct rides the same aggregate as
    the sketch. At 100 TB the exact twin is the expensive leg; this
    audit runs on samples/partitions there, while the certified
    contract is what production reads."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    rel_err = F.abs(F.col("approx") - F.col("exact_users")) / F.col("exact_users")
    return agg.select(
        "event_type",
        "exact_users",
        (rel_err <= HLL_REL_ERR_BOUND).cast("int").alias("within_bound"),
    )


EVENTS_USER_COUNT_HLL_ERROR_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS INTEGER) AS within_bound
FROM events
GROUP BY event_type
"""

_GK_QUANTILES = (0.25, 0.5, 0.75, 0.95)


def events_value_quantiles_sketch_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna quantile-sketch error contract under the
    gate: for each (event type, p), the percentile_approx estimate
    must lie between the EXACT quantiles at p ∓ GK_RANK_EPS — the
    rank-error form of the GK guarantee (accuracy 10⁴ ⇒ rank error
    ≤ 10⁻⁴, accepted at 50× slack). Exact bounds and the sketch
    share one aggregate pass; the wide row unpivots map-side to one
    row per quantile, |types|·4 rows at any scale."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    aggs = []
    for q in _GK_QUANTILES:
        lo, hi = max(q - GK_RANK_EPS, 0.0), min(q + GK_RANK_EPS, 1.0)
        aggs += [
            F.percentile_approx("value", q, 10000).alias(f"a{int(q * 100)}"),
            F.expr(f"percentile(value, {lo})").alias(f"lo{int(q * 100)}"),
            F.expr(f"percentile(value, {hi})").alias(f"hi{int(q * 100)}"),
        ]
    wide = ev.groupBy("event_type").agg(*aggs)
    verdicts = F.array(
        *[
            F.struct(
                F.lit(q).alias("quantile"),
                (
                    (F.col(f"a{int(q * 100)}") >= F.col(f"lo{int(q * 100)}"))
                    & (F.col(f"a{int(q * 100)}") <= F.col(f"hi{int(q * 100)}"))
                )
                .cast("int")
                .alias("within_bound"),
            )
            for q in _GK_QUANTILES
        ]
    )
    return (
        wide.select("event_type", F.explode(verdicts).alias("v"))
        .select("event_type", F.col("v.quantile").alias("quantile"), F.col("v.within_bound").alias("within_bound"))
    )


EVENTS_VALUE_QUANTILES_SKETCH_ERROR_SQL = """
SELECT event_type, CAST(quantile AS DOUBLE) AS quantile, CAST(1 AS INTEGER) AS within_bound
FROM (SELECT DISTINCT event_type FROM events)
CROSS JOIN (VALUES (0.25), (0.5), (0.75), (0.95)) AS q(quantile)
"""


# ---------------------------------------------------------------------------
# events_cube — full CUBE over (event_type, hour-of-day)
# ---------------------------------------------------------------------------


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, hour-of-day): all four grouping sets —
    detail, per-type, per-hour, grand total — in ONE pass. Spark
    plans a single Expand (4× map-side fan-out) feeding one
    partial-agg shuffle, so the whole lattice costs one exchange of
    pre-aggregated rows, not one scan per grouping set. grouping_id
    disambiguates rolled-up NULLs from data NULLs."""
    ev = _events_us(spark, sf_dir).withColumn(
        "hr", (F.expr("ts_us div 3600000000") % 24).cast("long")
    )
    return ev.cube("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value") + 1e-9, 4).alias("sum_value"),
        F.grouping_id().alias("gid"),
    )


EVENTS_CUBE_SQL = """
WITH ev AS (
  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hr, value FROM events
)
SELECT event_type, hr,
       CAST(count(*) AS BIGINT)                 AS n_events,
       round(sum(value) + 1e-9, 4)              AS sum_value,
       CAST(GROUPING(event_type, hr) AS BIGINT) AS gid
FROM ev
GROUP BY CUBE (event_type, hr)
"""


# ---------------------------------------------------------------------------
# user_value_deciles — exact ntile decile boundaries per event type
# ---------------------------------------------------------------------------


def user_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decile boundaries of `value` per event type via
    ntile(10) over a deterministic (value, event_id) order — the
    feature-bucketing shape. The sort is partition-local per
    event_type; at 100 TB the approximate path
    (`events_value_quantiles_sketch`) replaces the exact full sort
    when sketch error is acceptable."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    w = Window.partitionBy("event_type").orderBy(F.col("value"), F.col("event_id"))
    return (
        ev.withColumn("decile", F.ntile(10).over(w))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value") + 1e-9, 4).alias("lo"),
            F.round(F.max("value") + 1e-9, 4).alias("hi"),
        )
    )


USER_VALUE_DECILES_SQL = """
WITH ranked AS (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
  FROM events
)
SELECT event_type, decile,
       CAST(count(*) AS BIGINT)      AS n,
       round(min(value) + 1e-9, 4)   AS lo,
       round(max(value) + 1e-9, 4)   AS hi
FROM ranked
GROUP BY event_type, decile
"""


# ---------------------------------------------------------------------------
# events_gap_fill — dense 5-minute timeline with zero-filled gaps
# ---------------------------------------------------------------------------


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type 5-minute timeline: every bucket between each
    event_type's first and last event, zero-filled where no events
    landed — the hypertable time_bucket_gapfill shape. The per-type
    [min, max] range collapses to ONE row per type before
    `F.sequence` explodes it back to buckets, so the fan-out input
    is |types| rows regardless of corpus size; the generated spine
    then left-joins the real bucket aggregates on (type, bucket)."""
    ev = _events_us(spark, sf_dir).withColumn(
        "bucket_us", F.expr(f"ts_us div {FIVE_MIN_US}") * FIVE_MIN_US
    )
    agg = ev.groupBy("event_type", "bucket_us").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value") + 1e-9, 4).alias("sum_value"),
    )
    spine = (
        ev.groupBy("event_type")
        .agg(F.min("bucket_us").alias("lo"), F.max("bucket_us").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("lo"), F.col("hi"), F.lit(FIVE_MIN_US))).alias(
                "bucket_us"
            ),
        )
    )
    return spine.join(agg, ["event_type", "bucket_us"], "left").select(
        "event_type",
        "bucket_us",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
    )


EVENTS_GAP_FILL_SQL = """
WITH ev AS (
  SELECT event_type, (epoch_us(ts) // 300000000) * 300000000 AS bucket_us, value
  FROM events
),
agg AS (
  SELECT event_type, bucket_us,
         count(*) AS n_events,
         round(sum(value) + 1e-9, 4) AS sum_value
  FROM ev GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(bucket_us) AS lo, max(bucket_us) AS hi FROM ev GROUP BY 1
),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, 300000000)) AS bucket_us
  FROM bounds
)
SELECT spine.event_type, spine.bucket_us,
       CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
       coalesce(sum_value, 0.0)              AS sum_value
FROM spine LEFT JOIN agg USING (event_type, bucket_us)
"""


# ---------------------------------------------------------------------------
# orders_percent_rank — relative standing within each priority class
# ---------------------------------------------------------------------------


def orders_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of order value within each priority
    class, bucketed to top-1% / top-10% / rest — the relative-
    standing feature shape. Sort is partition-local per priority;
    output is one row per order (the bucket agg keeps the gate
    result small)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    ranked = orders.select(
        "o_orderpriority",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    tier = (
        F.when(F.col("pr") < 0.01, F.lit("top_1pct"))
        .when(F.col("pr") < 0.10, F.lit("top_10pct"))
        .otherwise(F.lit("rest"))
    )
    return (
        ranked.withColumn("tier", tier)
        .groupBy("o_orderpriority", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("cd") + 1e-9, 6).alias("avg_cume_dist"),
        )
    )


ORDERS_PERCENT_RANK_SQL = """
WITH ranked AS (
  SELECT o_orderpriority,
         percent_rank() OVER w AS pr,
         cume_dist()    OVER w AS cd
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
)
SELECT o_orderpriority,
       CASE WHEN pr < 0.01 THEN 'top_1pct'
            WHEN pr < 0.10 THEN 'top_10pct'
            ELSE 'rest' END AS tier,
       CAST(count(*) AS BIGINT)    AS n_orders,
       round(avg(cd) + 1e-9, 6)    AS avg_cume_dist
FROM ranked
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# events_latest_snapshot — upsert compaction to the latest row per key
# ---------------------------------------------------------------------------


def events_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key compaction — the CDC/upsert snapshot every
    lakehouse merge reduces to: for each (user_id, event_type) keep
    the most recent event's value. Expressed as `max_by` aggregation
    (one partial-agg shuffle, map-side combined) rather than a
    row_number window + filter, which would sort every group instead
    of keeping one running champion per key. Ties on ts break by
    event_id via the (ts_us, event_id) ordering struct."""
    ev = _events_us(spark, sf_dir).select("user_id", "event_type", "ts_us", "event_id", "value")
    ord_key = F.struct(F.col("ts_us"), F.col("event_id"))
    return ev.groupBy("user_id", "event_type").agg(
        F.max("ts_us").alias("last_ts_us"),
        F.max_by("value", ord_key).alias("last_value"),
        F.count(F.lit(1)).alias("n_versions"),
    )


EVENTS_LATEST_SNAPSHOT_SQL = """
SELECT user_id, event_type,
       max(epoch_us(ts)) AS last_ts_us,
       -- DuckDB arg_max keys must be scalar; zero-padded string
       -- composite == lexicographic == (ts_us, event_id) order
       arg_max(value, printf('%020d|%020d', epoch_us(ts), event_id)) AS last_value,
       CAST(count(*) AS BIGINT) AS n_versions
FROM events
GROUP BY user_id, event_type
"""


# ---------------------------------------------------------------------------
# events_user_entropy — behavioral diversity per user
# ---------------------------------------------------------------------------


def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity feature a recommendation / anomaly pipeline
    computes per key. Two-level aggregation: (user, type) partial
    counts combine map-side, then one user_id shuffle folds them
    into H = ln(N) − Σ n·ln(n)/N. The inner Σ runs over exact long
    counts, so both engines evaluate the same IEEE expression and
    the 6-dp round is stable. Shuffle rows = |users|·|types| partial
    counts regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    n_total = F.sum("n")
    entropy = F.log(n_total) - F.sum(F.col("n") * F.log("n")) / n_total
    return per.groupBy("user_id").agg(
        n_total.alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(entropy + 1e-9, 6).alias("entropy"),
    )


EVENTS_USER_ENTROPY_SQL = """
WITH per AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_types,
       round(ln(sum(n)) - sum(n * ln(n)) / sum(n) + 1e-9, 6) AS entropy
FROM per
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# events_transition_matrix — Markov transition counts between types
# ---------------------------------------------------------------------------


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: for every consecutive (type → next_type) step, the
    transition count and mean gap seconds. One lead() window per
    user (deterministic (ts, event_id) order) feeds a |types|²-row
    aggregate — the shuffle after the window carries pre-combined
    partials, and the output is bounded by the type-alphabet size
    at any corpus scale. Mean gap divides an exact long sum of
    microsecond gaps, so both engines round identically."""
    ev = _events_us(spark, sf_dir).select("user_id", "event_type", "ts_us", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        (F.lead("ts_us").over(w) - F.col("ts_us")).alias("gap_us"),
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.round(F.sum("gap_us") / F.count(F.lit(1)) / 1e6 + 1e-9, 4).alias("avg_gap_s"),
    )


EVENTS_TRANSITION_MATRIX_SQL = """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER w AS next_type,
         lead(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type, next_type,
       CAST(count(*) AS BIGINT) AS n_transitions,
       round(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1e6 + 1e-9, 4) AS avg_gap_s
FROM seq
WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# events_anomaly_zscore — per-key σ-outlier detection
# ---------------------------------------------------------------------------


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value deviates more than 2σ from their
    (user, type) mean — the built-in-window outlier path next to the
    robust median/MAD kernel in events_user_mad. One shuffle on the
    (user, type) key serves both window aggregates (mean and sample
    stddev share the frame); constant-variance groups (σ=0) are
    excluded in both engines. Output is only the outliers, so it is
    a vanishing fraction of the corpus at any scale."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    w = Window.partitionBy("user_id", "event_type")
    mean = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    z = (F.col("value") - mean) / sd
    return (
        ev.withColumn("sd", sd)
        .withColumn("z", z)
        .filter((F.col("sd") > 0) & (F.abs(F.col("z")) > 2.0))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") + 1e-9, 4).alias("value"),
            F.round(F.col("z") + 1e-9, 4).alias("zscore"),
        )
    )


EVENTS_ANOMALY_ZSCORE_SQL = """
WITH stats AS (
  SELECT event_id, user_id, event_type, value,
         avg(value)         OVER w AS mean_v,
         stddev_samp(value) OVER w AS sd
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type)
)
SELECT event_id, user_id, event_type,
       round(value + 1e-9, 4) AS value,
       round((value - mean_v) / sd + 1e-9, 4) AS zscore
FROM stats
WHERE sd > 0 AND abs((value - mean_v) / sd) > 2.0
"""


# ---------------------------------------------------------------------------
# events_column_profile — one-pass distributed data-profiling audit
# ---------------------------------------------------------------------------


def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profiling audit (null count, exact distinct count,
    min/max) over the events table in ONE aggregation pass — the
    data-quality gate a training pipeline runs on every new drop
    before anything downstream touches it.

    Scale design: all six columns profile in a single `agg`; Spark
    plans the multi-distinct via Expand (each row fans out once per
    distinct-column), with partial aggregation keyed on
    (gid, value) map-side, so the shuffle carries per-partition
    DISTINCT values, never raw rows. The unpivot to (col_name, ...)
    rows is a `stack` over the single 1-row aggregate — free. At
    100 TB the same plan holds; if exact distincts get too hot,
    swap `count_distinct` for `approx_count_distinct` (HLL, one
    sketch per column, no Expand) — kept exact here so the DuckDB
    oracle can value-check the audit.

    Numeric min/max render via round(+1e-9, 4) → string in both
    engines so the gate hash is format-stable.
    """
    ev = _events_us(spark, sf_dir)

    def _num(col: str):  # integer-typed columns render as plain longs
        return [
            F.sum(F.col(col).isNull().cast("long")).alias(f"{col}_nulls"),
            F.count_distinct(F.col(col)).alias(f"{col}_distinct"),
            F.min(col).cast("string").alias(f"{col}_min"),
            F.max(col).cast("string").alias(f"{col}_max"),
        ]

    def _dbl(col: str):  # doubles round to 4 dp before rendering
        return [
            F.sum(F.col(col).isNull().cast("long")).alias(f"{col}_nulls"),
            F.count_distinct(F.col(col)).alias(f"{col}_distinct"),
            F.round(F.min(col) + 1e-9, 4).cast("string").alias(f"{col}_min"),
            F.round(F.max(col) + 1e-9, 4).cast("string").alias(f"{col}_max"),
        ]

    cols = ["event_id", "ts_us", "user_id", "event_type", "value", "props"]
    exprs = []
    for c in cols:
        exprs.extend(_dbl(c) if c == "value" else _num(c))
    exprs.append(F.count(F.lit(1)).alias("n_rows"))
    one = ev.agg(*exprs)
    stack_args = ", ".join(
        f"'{c}', {c}_nulls, {c}_distinct, {c}_min, {c}_max" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n_nulls, n_distinct, min_val, max_val)",
        "n_rows",
    )


def _profile_oracle() -> str:
    def leg(col: str, expr: str, render_min: str, render_max: str) -> str:
        return f"""
SELECT '{col}' AS col_name,
       CAST(count(*) - count({expr}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {expr}) AS BIGINT)   AS n_distinct,
       {render_min} AS min_val,
       {render_max} AS max_val,
       CAST(count(*) AS BIGINT)                 AS n_rows
FROM events"""

    legs = [
        leg("event_id", "event_id", "CAST(min(event_id) AS VARCHAR)", "CAST(max(event_id) AS VARCHAR)"),
        leg("ts_us", "epoch_us(ts)", "CAST(min(epoch_us(ts)) AS VARCHAR)", "CAST(max(epoch_us(ts)) AS VARCHAR)"),
        leg("user_id", "user_id", "CAST(min(user_id) AS VARCHAR)", "CAST(max(user_id) AS VARCHAR)"),
        leg("event_type", "event_type", "min(event_type)", "max(event_type)"),
        leg(
            "value",
            "value",
            "CAST(round(min(value) + 1e-9, 4) AS VARCHAR)",
            "CAST(round(max(value) + 1e-9, 4) AS VARCHAR)",
        ),
        leg("props", "props", "min(props)", "max(props)"),
    ]
    return "\nUNION ALL\n".join(legs)


EVENTS_COLUMN_PROFILE_SQL = _profile_oracle()


# ---------------------------------------------------------------------------
# events_watermark_audit — how late does this feed actually arrive?
# ---------------------------------------------------------------------------

# lateness histogram bucket upper bounds (µs) and labels, in order
LATENESS_BUCKETS = (
    (0, "0_in_order"),
    (60_000_000, "1_under_1m"),
    (300_000_000, "2_under_5m"),
    (1_800_000_000, "3_under_30m"),
    (7_200_000_000, "4_under_2h"),
)
LATENESS_OVERFLOW = "5_over_2h"


def events_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time lateness distribution — the measurement that sizes
    a streaming watermark. For each event, lateness is how far its
    event time sits behind the latest event time already seen on its
    key (arrival order = event_id, the ingest sequence number);
    the histogram of that lateness says which `withWatermark`
    horizon keeps e.g. 99% of events while bounding state. Every
    watermark in `streaming/events.py` is a constant someone chose —
    this audit is where the constant comes from.

    Scale design: the running max is a per-user window (one shuffle
    on user_id, sorts partition-local), and the histogram is a
    second ~6-group agg. Lateness stays exact int64 µs throughout;
    shares round at 6 dp."""
    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "ts_us")
    seen = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    late = ev.select(
        (F.max("ts_us").over(seen) - F.col("ts_us")).alias("lateness_us")
    )
    bucket = F.when(F.col("lateness_us") <= LATENESS_BUCKETS[0][0], LATENESS_BUCKETS[0][1])
    for bound, label in LATENESS_BUCKETS[1:]:
        bucket = bucket.when(F.col("lateness_us") <= bound, label)
    bucket = bucket.otherwise(LATENESS_OVERFLOW)
    total = Window.partitionBy()
    return (
        late.groupBy(bucket.alias("lateness_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("lateness_us").alias("max_lateness_us"),
        )
        .withColumn(
            "share", F.round(F.col("n_events") / F.sum("n_events").over(total) + 1e-9, 6)
        )
    )


def _watermark_oracle() -> str:
    cases = f"WHEN lateness_us <= {LATENESS_BUCKETS[0][0]} THEN '{LATENESS_BUCKETS[0][1]}'"
    for bound, label in LATENESS_BUCKETS[1:]:
        cases += f"\n           WHEN lateness_us <= {bound} THEN '{label}'"
    return f"""
WITH late AS (
  SELECT max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS UNBOUNDED PRECEDING) - epoch_us(ts)
           AS lateness_us
  FROM events
),
hist AS (
  SELECT CASE {cases}
           ELSE '{LATENESS_OVERFLOW}' END AS lateness_bucket,
         CAST(count(*) AS BIGINT)        AS n_events,
         CAST(max(lateness_us) AS BIGINT) AS max_lateness_us
  FROM late GROUP BY 1
)
SELECT lateness_bucket, n_events, max_lateness_us,
       round(n_events * 1.0 / sum(n_events) OVER () + 1e-9, 6) AS share
FROM hist
"""


EVENTS_WATERMARK_AUDIT_SQL = _watermark_oracle()


# ---------------------------------------------------------------------------
# watermark_delay_curve — the CDF that sizes every withWatermark constant
# ---------------------------------------------------------------------------

# candidate withWatermark delays (µs) — the LATENESS_BUCKETS bounds,
# so the curve aligns point-for-point with the audit's histogram
WATERMARK_DELAY_GRID_US = tuple(b for b, _ in LATENESS_BUCKETS) + (86_400_000_000,)


def watermark_delay_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MEASURED companion to `events_watermark_audit` (VERDICT r8
    #8): for each candidate `withWatermark` delay d on the grid, the
    exact fraction of events a d-delay watermark ADMITS (lateness ≤
    d, same per-key arrival-order lateness definition as the audit)
    and the count it would drop as too-late. The audit's histogram
    shows where lateness mass sits; this is the direct decision
    table — read the smallest d whose keep_share clears the SLO
    (e.g. 99.9%) and that is the constant every `withWatermark` in
    streaming/events.py should carry, priced against its state cost
    (state horizon grows linearly in d). Measured, not guessed.

    Scale design: one per-user window shuffle computes lateness
    (identical to the audit — at cluster scale the two share the
    stage), then ONE global aggregate with map-side partials folds
    |events| rows into a single row of |grid| counters; the grid
    fan-out to the |grid|-row face happens on that 1-row frame.
    Output is 6 rows at any corpus size."""
    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "ts_us")
    seen = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    late = ev.select(
        (F.max("ts_us").over(seen) - F.col("ts_us")).alias("lateness_us")
    )
    one = late.agg(
        F.count(F.lit(1)).alias("n_total"),
        *[
            F.sum((F.col("lateness_us") <= d).cast("long")).alias(f"k_{d}")
            for d in WATERMARK_DELAY_GRID_US
        ],
    )
    stacked = one.select(
        "n_total",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("long").alias("delay_us"),
                        F.col(f"k_{d}").alias("n_kept"),
                    )
                    for d in WATERMARK_DELAY_GRID_US
                ]
            )
        ).alias("r"),
    )
    return stacked.select(
        F.col("r.delay_us").alias("delay_us"),
        F.col("r.n_kept").alias("n_kept"),
        (F.col("n_total") - F.col("r.n_kept")).alias("n_dropped"),
        F.round(F.col("r.n_kept") / F.col("n_total") + 1e-9, 6).alias("keep_share"),
    )


def _watermark_delay_curve_oracle() -> str:
    sums = ",\n         ".join(
        f"CAST(sum(CASE WHEN lateness_us <= {d} THEN 1 ELSE 0 END) AS BIGINT) AS k_{d}"
        for d in WATERMARK_DELAY_GRID_US
    )
    rows = "\n  UNION ALL\n  ".join(
        f"SELECT CAST({d} AS BIGINT) AS delay_us, k_{d} AS n_kept, "
        f"n_total - k_{d} AS n_dropped, "
        f"round(k_{d} * 1.0 / n_total + 1e-9, 6) AS keep_share FROM agg"
        for d in WATERMARK_DELAY_GRID_US
    )
    return f"""
WITH late AS (
  SELECT max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS UNBOUNDED PRECEDING) - epoch_us(ts)
           AS lateness_us
  FROM events
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         {sums}
  FROM late
)
{rows}
"""


WATERMARK_DELAY_CURVE_SQL = _watermark_delay_curve_oracle()


# ---------------------------------------------------------------------------
# events_drift_psi — distribution drift between time halves (PSI)
# ---------------------------------------------------------------------------

PSI_BIN_W = 25.0
PSI_BIN_CAP = 20
PSI_EPS = 1e-6


def events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift check on the event value
    distribution: the stream's first time-half is the reference
    window, the second half the comparison window, values bucket
    into fixed-width bins, and each bin contributes
    (p_b - p_a) · ln(p_b / p_a) (ε-smoothed). Σ contribution is the
    PSI a feature-drift monitor alerts on (>0.2 = retrain signal);
    per-bin rows show WHERE the distribution moved.

    Scale design: the split boundary is a 1-row (min+max)/2
    aggregate cross-joined back (exact int64 µs midpoint — no
    collect); the histogram is one ≤2·(CAP+1)-group partial agg;
    shares and PSI round at 6 dp with the same ε in both engines."""
    ev = _events_us(spark, sf_dir).select("ts_us", "value")
    # integer floor-division for the midpoint: a float divide + cast
    # truncates in Spark but rounds-to-nearest in DuckDB, which would
    # flip boundary events between halves on odd sums
    bounds = ev.agg(F.min("ts_us").alias("mn"), F.max("ts_us").alias("mx")).select(
        F.expr("(mn + mx) div 2").alias("mid_us")
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("ts_us") < F.col("mid_us"), "a").otherwise("b").alias("half"),
        F.least(F.floor(F.col("value") / PSI_BIN_W), F.lit(PSI_BIN_CAP))
        .cast("long")
        .alias("bin"),
    )
    hist = binned.groupBy("bin").agg(
        F.sum((F.col("half") == "a").cast("long")).alias("n_a"),
        F.sum((F.col("half") == "b").cast("long")).alias("n_b"),
    )
    tot = Window.partitionBy()
    pa = F.col("n_a") / F.sum("n_a").over(tot) + PSI_EPS
    pb = F.col("n_b") / F.sum("n_b").over(tot) + PSI_EPS
    return hist.select(
        "bin",
        "n_a",
        "n_b",
        F.round(pa - PSI_EPS + 1e-9, 6).alias("share_a"),
        F.round(pb - PSI_EPS + 1e-9, 6).alias("share_b"),
        F.round((pb - pa) * F.log(pb / pa) + 1e-9, 6).alias("psi_contrib"),
    )


EVENTS_DRIFT_PSI_SQL = f"""
WITH ev AS (SELECT epoch_us(ts) AS ts_us, value FROM events),
bounds AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS mid_us FROM ev),
binned AS (
  SELECT CASE WHEN ts_us < mid_us THEN 'a' ELSE 'b' END AS half,
         CAST(least(floor(value / {PSI_BIN_W}), {PSI_BIN_CAP}) AS BIGINT) AS bin
  FROM ev CROSS JOIN bounds
),
hist AS (
  SELECT bin,
         CAST(sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM binned GROUP BY 1
)
SELECT bin, n_a, n_b,
       round(n_a * 1.0 / sum(n_a) OVER () + 1e-9, 6) AS share_a,
       round(n_b * 1.0 / sum(n_b) OVER () + 1e-9, 6) AS share_b,
       round((n_b * 1.0 / sum(n_b) OVER () + {PSI_EPS} - n_a * 1.0 / sum(n_a) OVER () - {PSI_EPS})
             * ln((n_b * 1.0 / sum(n_b) OVER () + {PSI_EPS})
                  / (n_a * 1.0 / sum(n_a) OVER () + {PSI_EPS})) + 1e-9, 6) AS psi_contrib
FROM hist
"""


# ---------------------------------------------------------------------------
# events_active_users — DAU / trailing-7-day WAU (exact rolling distinct)
# ---------------------------------------------------------------------------

DAY_US = 86_400_000_000


def _user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (day, user_id) pairs of the feed: the one
    data-scale shuffle every active-user count starts from."""
    return (
        _events_us(spark, sf_dir)
        .select(F.expr(f"ts_us div {DAY_US}").alias("day"), "user_id")
        .distinct()
    )


def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily and trailing-7-day active users (DAU/WAU), exact.

    A naive WAU windows `count_distinct` over a 7-day range — but
    distinct doesn't decompose over window frames, so Spark would
    buffer each day's full user set per window. The scale shape used
    here: collapse to distinct (day, user) pairs first (one
    map-side-combined shuffle), then each pair CONTRIBUTES ITSELF to
    the 7 target days it supports via a map-side explode, and one
    count_distinct per target day finishes the job. Cost is a
    bounded ×7 fan-out of the already-collapsed pair set — no
    per-window user-set state, no self-join. Target days are
    restricted to days that actually occur (partial leading windows
    are still reported, as trailing windows are by convention)."""
    day_user = _user_days(spark, sf_dir)
    dau = day_user.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = day_user.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"), "user_id"
    )
    wau = (
        contrib.join(day_user.select("day").distinct(), "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return dau.join(wau, "day").select("day", "dau", "wau")


EVENTS_ACTIVE_USERS_SQL = f"""
WITH day_user AS (
  SELECT DISTINCT epoch_us(ts) // {DAY_US} AS day, user_id FROM events
),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM day_user GROUP BY 1),
contrib AS (
  SELECT day + offs AS day, user_id
  FROM day_user CROSS JOIN (SELECT unnest(range(0, 7)) AS offs)
),
wau AS (
  SELECT c.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
  FROM contrib c
  WHERE c.day IN (SELECT day FROM day_user)
  GROUP BY 1
)
SELECT d.day, d.dau, w.wau
FROM dau d JOIN wau w USING (day)
"""


# ---------------------------------------------------------------------------
# events_peak_detection — local maxima in the hourly event series
# ---------------------------------------------------------------------------

def events_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic peaks: hourly event counts flagged as peaks when an
    hour strictly exceeds BOTH neighbors and runs ≥ 1.5× the global
    hourly mean — the alerting primitive behind load-spike and
    incident detection. Emits the full hourly series with neighbor
    counts and the flag, so a monitor can plot the series and its
    peaks from one result.

    Scale design: one partial-agg shuffle to |hours| rows; the
    lag/lead neighborhood window orders the tiny aggregated series
    (windows never touch raw events), and the global mean rides in
    as a broadcast 1-row aggregate. Peak thresholds compare exact
    longs against a 4-dp-quantized mean, so the flag is
    engine-stable."""
    ev = _events_us(spark, sf_dir)
    hourly = ev.groupBy(
        (F.expr(f"ts_us div {HOUR_US}") * HOUR_US).alias("hour_start_us")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.orderBy("hour_start_us")
    mean = hourly.agg(F.round(F.avg("n_events") + 1e-9, 4).alias("mean_hourly"))
    flagged = (
        hourly.withColumn("prev_n", F.lag("n_events").over(w))
        .withColumn("next_n", F.lead("n_events").over(w))
        .crossJoin(F.broadcast(mean))
    )
    is_peak = (
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("n_events") > F.col("prev_n"))
        & (F.col("n_events") > F.col("next_n"))
        & (F.col("n_events") >= 1.5 * F.col("mean_hourly"))
    )
    return flagged.select(
        "hour_start_us",
        "n_events",
        "prev_n",
        "next_n",
        is_peak.cast("long").alias("is_peak"),
    )


EVENTS_PEAK_DETECTION_SQL = f"""
WITH hourly AS (
  SELECT (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS hour_start_us,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
),
m AS (SELECT round(avg(n_events) + 1e-9, 4) AS mean_hourly FROM hourly),
nbr AS (
  SELECT hour_start_us, n_events,
         lag(n_events)  OVER (ORDER BY hour_start_us) AS prev_n,
         lead(n_events) OVER (ORDER BY hour_start_us) AS next_n
  FROM hourly
)
SELECT hour_start_us, n_events, prev_n, next_n,
       CAST(prev_n IS NOT NULL AND next_n IS NOT NULL
            AND n_events > prev_n AND n_events > next_n
            AND n_events >= 1.5 * mean_hourly AS BIGINT) AS is_peak
FROM nbr CROSS JOIN m
"""


# ---------------------------------------------------------------------------
# events_retention_curve — D1/D7 return rates by first-seen cohort
# ---------------------------------------------------------------------------


def events_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D7 retention by acquisition cohort: users grouped by their
    first-seen day, with the share that returned exactly 1 and 7
    days later — the canonical product-health curve (and the events
    twin of `orders_cohort_retention`'s monthly version).

    Scale design: everything derives from the distinct (day, user)
    pair set (one map-side-combined shuffle — the same collapse
    DAU/WAU uses); the cohort day is a per-user min over that set,
    and each retention flag is one more join ON (user, first_day+k)
    against the pair set — keyed joins of the collapsed frame, never
    raw events. Exact integer counts, 6-dp rates."""
    day_user = _user_days(spark, sf_dir)
    first = day_user.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    d1 = day_user.select("user_id", (F.col("day") - 1).alias("cohort_day"), F.lit(1).alias("r1"))
    d7 = day_user.select("user_id", (F.col("day") - 7).alias("cohort_day"), F.lit(1).alias("r7"))
    joined = (
        first.join(d1.distinct(), ["user_id", "cohort_day"], "left")
        .join(d7.distinct(), ["user_id", "cohort_day"], "left")
    )
    return joined.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.coalesce(F.sum("r1"), F.lit(0)).alias("d1_retained"),
        F.coalesce(F.sum("r7"), F.lit(0)).alias("d7_retained"),
        F.round(F.coalesce(F.sum("r1"), F.lit(0)) / F.count(F.lit(1)) + 1e-9, 6).alias("d1_rate"),
        F.round(F.coalesce(F.sum("r7"), F.lit(0)) / F.count(F.lit(1)) + 1e-9, 6).alias("d7_rate"),
    )


EVENTS_RETENTION_CURVE_SQL = f"""
WITH day_user AS (
  SELECT DISTINCT epoch_us(ts) // {DAY_US} AS day, user_id FROM events
),
first AS (SELECT user_id, min(day) AS cohort_day FROM day_user GROUP BY 1),
flags AS (
  SELECT f.user_id, f.cohort_day,
         CASE WHEN d1.user_id IS NOT NULL THEN 1 ELSE 0 END AS r1,
         CASE WHEN d7.user_id IS NOT NULL THEN 1 ELSE 0 END AS r7
  FROM first f
  LEFT JOIN day_user d1 ON d1.user_id = f.user_id AND d1.day = f.cohort_day + 1
  LEFT JOIN day_user d7 ON d7.user_id = f.user_id AND d7.day = f.cohort_day + 7
)
SELECT cohort_day,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(r1) AS BIGINT)  AS d1_retained,
       CAST(sum(r7) AS BIGINT)  AS d7_retained,
       round(sum(r1) * 1.0 / count(*) + 1e-9, 6) AS d1_rate,
       round(sum(r7) * 1.0 / count(*) + 1e-9, 6) AS d7_rate
FROM flags
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# events_scd_join — point-in-time (SCD Type 2) dimension join
# ---------------------------------------------------------------------------

SCD_VERSIONS = 3


def events_scd_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against a versioned (SCD Type 2)
    dimension: every event joins the dimension version that was
    valid AT ITS EVENT TIME — the correctness rule feature stores
    live by (training labels must see the feature value as of the
    event, not today's). The versioned dimension is synthesized
    deterministically (per user, SCD_VERSIONS validity windows
    splitting the corpus time range, tier = (user_id + version) %
    5) with identical arithmetic in the oracle.

    Scale design: the join is an EQUI-join on user_id (one shuffle)
    with the validity predicate applied post-join — fan-out is
    bounded by versions-per-key (here 3; real SCD dims hold a
    handful of versions), never a time-range bin explosion. The
    corpus time bounds ride in as a broadcast 1-row aggregate.
    Window ends use half-open [from, to) with the final version
    closed at max+1 so every event matches exactly one version."""
    ev = _events_us(spark, sf_dir).select("user_id", "ts_us", "value")
    bounds = ev.agg(
        F.min("ts_us").alias("t0"), (F.max("ts_us") + 1).alias("t_end")
    )
    users = ev.select("user_id").distinct()
    dim = (
        users.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            "t0",
            "t_end",
            F.explode(F.sequence(F.lit(0), F.lit(SCD_VERSIONS - 1))).alias("version"),
        )
        .select(
            "user_id",
            "version",
            (F.col("t0") + F.col("version") * F.expr(f"(t_end - t0) div {SCD_VERSIONS}")).alias(
                "valid_from"
            ),
            F.when(
                F.col("version") == SCD_VERSIONS - 1, F.col("t_end")
            ).otherwise(
                F.col("t0") + (F.col("version") + 1) * F.expr(f"(t_end - t0) div {SCD_VERSIONS}")
            ).alias("valid_to"),
            ((F.col("user_id") + F.col("version")) % 5).alias("tier"),
        )
    )
    joined = ev.join(dim, "user_id").filter(
        (F.col("ts_us") >= F.col("valid_from")) & (F.col("ts_us") < F.col("valid_to"))
    )
    return joined.groupBy("tier", "version").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value") + 1e-9, 4).alias("total_value"),
    )


EVENTS_SCD_JOIN_SQL = f"""
WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
bounds AS (SELECT min(ts_us) AS t0, max(ts_us) + 1 AS t_end FROM ev),
dim AS (
  SELECT u.user_id, v.version,
         b.t0 + v.version * ((b.t_end - b.t0) // {SCD_VERSIONS}) AS valid_from,
         CASE WHEN v.version = {SCD_VERSIONS - 1} THEN b.t_end
              ELSE b.t0 + (v.version + 1) * ((b.t_end - b.t0) // {SCD_VERSIONS}) END AS valid_to,
         (u.user_id + v.version) % 5 AS tier
  FROM (SELECT DISTINCT user_id FROM ev) u
  CROSS JOIN (SELECT unnest(range(0, {SCD_VERSIONS})) AS version) v
  CROSS JOIN bounds b
)
SELECT d.tier, CAST(d.version AS BIGINT) AS version,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e.value) + 1e-9, 4) AS total_value
FROM ev e
JOIN dim d ON e.user_id = d.user_id
          AND e.ts_us >= d.valid_from AND e.ts_us < d.valid_to
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# events_ewma — per-user exponentially weighted moving average
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.2
EWMA_LOOKBACK = 50


def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of `value` (α=0.2) over the last 50 events —
    the smoothing a monitoring pipeline layers over raw event
    streams. The finite-lookback normalized form
    Σ x·(1-α)^age / Σ (1-α)^age is used instead of the infinite
    recursion: it is windowable (one user_id shuffle, O(50) state
    per row), numerically closed, and at age 50 the truncated tail
    weight (0.8⁵⁰ ≈ 1e-5) is below the 4-dp output quantum. Both
    engines fold the same list in the same order."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-(EWMA_LOOKBACK - 1), Window.currentRow)
    )
    arr = F.collect_list("value").over(w)
    m = F.size(arr)
    decay = F.lit(1.0 - EWMA_ALPHA)
    weighted = F.transform(arr, lambda x, k: x * F.pow(decay, (m - 1 - k).cast("double")))
    weights = F.transform(arr, lambda x, k: F.pow(decay, (m - 1 - k).cast("double")))
    num = F.aggregate(weighted, F.lit(0.0), lambda a, b: a + b)
    den = F.aggregate(weights, F.lit(0.0), lambda a, b: a + b)
    return ev.select(
        "event_id",
        "user_id",
        F.round(num / den + 1e-9, 4).alias("ewma"),
    )


EVENTS_EWMA_SQL = f"""
WITH framed AS (
  SELECT event_id, user_id,
         list(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {EWMA_LOOKBACK - 1} PRECEDING AND CURRENT ROW) AS arr
  FROM events
)
SELECT event_id, user_id,
       round(
         list_reduce(list_transform(range(1, len(arr) + 1),
                                    i -> arr[i] * pow({1.0 - EWMA_ALPHA}, (len(arr) - i)::DOUBLE)),
                     (a, b) -> a + b)
         / list_reduce(list_transform(range(1, len(arr) + 1),
                                      i -> pow({1.0 - EWMA_ALPHA}, (len(arr) - i)::DOUBLE)),
                       (a, b) -> a + b)
         + 1e-9, 4) AS ewma
FROM framed
"""


# ---------------------------------------------------------------------------
# events_ohlc — open/high/low/close candles per type and window
# ---------------------------------------------------------------------------

QUARTER_HOUR_US = 900_000_000


def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute OHLC candles per event type — the time-series
    downsampling shape (market data, sensor telemetry). One
    partial-agg shuffle on (window, type); open/close are arg-min /
    arg-max over a zero-padded (ts, event_id) composite string key,
    the one formulation whose tie-break is bit-identical across
    engines (dedup_keep_best convention). Map-side combine makes
    the shuffle |windows|·|types| rows at any scale."""
    ev = _events_us(spark, sf_dir)
    win = (F.expr(f"ts_us div {QUARTER_HOUR_US}") * QUARTER_HOUR_US).alias("window_start_us")
    order_key = F.format_string("%020d|%010d", F.col("ts_us"), F.col("event_id"))
    keyed = ev.select("event_type", win, "value", order_key.alias("ok"))
    return keyed.groupBy("window_start_us", "event_type").agg(
        F.expr("min_by(value, ok)").alias("open"),
        F.round(F.max("value") + 1e-9, 4).alias("high"),
        F.round(F.min("value") + 1e-9, 4).alias("low"),
        F.expr("max_by(value, ok)").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value") + 1e-9, 4).alias("avg_value"),
    )


EVENTS_OHLC_SQL = f"""
SELECT (epoch_us(ts) // {QUARTER_HOUR_US}) * {QUARTER_HOUR_US} AS window_start_us,
       event_type,
       arg_min(value, printf('%020d|%010d', epoch_us(ts), event_id)) AS open,
       round(max(value) + 1e-9, 4) AS high,
       round(min(value) + 1e-9, 4) AS low,
       arg_max(value, printf('%020d|%010d', epoch_us(ts), event_id)) AS close,
       count(*) AS n_events,
       round(avg(value) + 1e-9, 4) AS avg_value
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# events_heavy_hitters_cms — hand-rolled Count-Min sketch, fully value-gated
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_TOP_K = 20


def events_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection via a hand-rolled Count-Min sketch —
    unlike the engine-internal HLL/GK sketches (rows-only at the
    gate), every number here is deterministic md5 + integer
    arithmetic, so the FULL sketch contract is value-checked
    cross-engine: estimates, the exact counts, and the CMS
    guarantee est ≥ true.

    Scale design: the sketch is CMS_DEPTH·CMS_WIDTH counters built
    in one partial-agg shuffle of (row, bucket) keys (2048 groups at
    any corpus size — THE point of a sketch: fixed-size state, and
    on a real cluster each executor combines map-side before the
    tiny exchange). Estimates probe the sketch with a |users|·depth
    → 2048-key join; the top-k is TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    u = F.col("user_id").cast("string")
    buckets = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                (md5_long(u, salt=f"cms{i}:") % CMS_WIDTH).alias("bucket"),
            )
            for i in range(CMS_DEPTH)
        ]
    )
    sketch = (
        ev.select(F.explode(buckets).alias("rb"))
        .select("rb.row", "rb.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    probes = truth.select("user_id", "true_count", F.explode(buckets).alias("rb")).select(
        "user_id", "true_count", "rb.row", "rb.bucket"
    )
    est = (
        probes.join(sketch, ["row", "bucket"])
        .groupBy("user_id", "true_count")
        .agg(F.min("cnt").alias("est_count"))
    )
    return (
        est.select(
            "user_id",
            "true_count",
            "est_count",
            (F.col("est_count") - F.col("true_count")).alias("overcount"),
        )
        .orderBy(F.col("est_count").desc(), F.col("user_id"))
        .limit(CMS_TOP_K)
    )


def _cms_bucket_sql(i: int, w: int) -> str:
    """DuckDB twin of the Count-Min bucket of user_id in row ``i`` of a
    width-``w`` sketch."""
    return f"{md5_long_sql('CAST(user_id AS VARCHAR)', salt=f'cms{i}:')} % {w}"


EVENTS_HEAVY_HITTERS_CMS_SQL = f"""
WITH rb AS (
  {" UNION ALL ".join(f"SELECT user_id, {i} AS row, {_cms_bucket_sql(i, CMS_WIDTH)} AS bucket FROM events" for i in range(CMS_DEPTH))}
),
sketch AS (SELECT row, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2),
truth AS (SELECT user_id, count(*) AS true_count FROM events GROUP BY 1),
probes AS (
  SELECT DISTINCT truth.user_id, true_count, rb.row, rb.bucket
  FROM truth JOIN rb USING (user_id)
),
est AS (
  SELECT p.user_id, p.true_count, min(s.cnt) AS est_count
  FROM probes p JOIN sketch s ON p.row = s.row AND p.bucket = s.bucket
  GROUP BY 1, 2
)
SELECT user_id, CAST(true_count AS BIGINT) AS true_count,
       CAST(est_count AS BIGINT) AS est_count,
       CAST(est_count - true_count AS BIGINT) AS overcount
FROM est
ORDER BY est_count DESC, user_id
LIMIT {CMS_TOP_K}
"""


# ---------------------------------------------------------------------------
# cms_width_error_curve — measured CMS overcount vs sketch width
# ---------------------------------------------------------------------------

CMS_ERR_WIDTHS = (128, 512, 2048)  # candidate widths (512 = shipped CMS_WIDTH)


def cms_width_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MEASURED companion to `events_heavy_hitters_cms`'s width
    choice: for each candidate sketch width w, build the full
    depth-4 Count-Min sketch and report the overcount
    error across EVERY key (not just the top-k face) — mean/max
    absolute overcount and the mean relative inflation. Cormode &
    Muthukrishnan (2005, §4.1) bound overcount by e·N/w with
    probability 1−e^−depth; this table shows what the corpus's
    actual key skew buys at each width, so a pipeline sizes the
    2048-counter-per-executor state cost from measurement before
    shipping a width to a 100 TB stream. Error should shrink ~4×
    per 4× width — a measured check that bucket collisions, not
    hash bias, dominate.

    Scale design: ONE events scan fans each row map-side to its
    (width, row, bucket) triples for all three widths at once
    (depth·|widths| = 12 structs); every sketch partially
    aggregates to Σ depth·w (≤ ~11k) counter groups at any corpus
    size; probes join the counter frame on its bounded key and the
    per-key min collapses keyed (user, width). Face is |widths|
    rows."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    u = F.col("user_id").cast("string")

    def rb_structs() -> list[F.Column]:
        out = []
        for w in CMS_ERR_WIDTHS:
            for i in range(CMS_DEPTH):
                out.append(
                    F.struct(
                        F.lit(w).cast("int").alias("width"),
                        F.lit(i).cast("int").alias("row"),
                        (md5_long(u, salt=f"cms{i}:") % w).alias("bucket"),
                    )
                )
        return out

    sketch = (
        ev.select(F.explode(F.array(*rb_structs())).alias("rb"))
        .select("rb.*")
        .groupBy("width", "row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    probes = truth.select(
        "user_id", "true_count", F.explode(F.array(*rb_structs())).alias("rb")
    ).select("user_id", "true_count", "rb.*")
    est = (
        probes.join(sketch, ["width", "row", "bucket"])
        .groupBy("user_id", "width", "true_count")
        .agg(F.min("cnt").alias("est_count"))
    )
    over = F.col("est_count") - F.col("true_count")
    return est.groupBy("width").agg(
        F.lit(CMS_DEPTH).cast("int").alias("depth"),
        F.count(F.lit(1)).alias("n_keys"),
        F.round(F.avg(over) + 1e-9, 6).alias("mean_overcount"),
        F.max(over).cast("long").alias("max_overcount"),
        F.round(F.avg(over / F.col("true_count")) + 1e-9, 6).alias("mean_rel_overcount"),
    )


def _cms_width_error_sql() -> str:
    rb = " UNION ALL ".join(
        f"SELECT user_id, {w} AS width, {i} AS row, {_cms_bucket_sql(i, w)} AS bucket FROM events"
        for w in CMS_ERR_WIDTHS
        for i in range(CMS_DEPTH)
    )
    return f"""
WITH rb AS ({rb}),
sketch AS (SELECT width, row, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2, 3),
truth AS (SELECT user_id, count(*) AS true_count FROM events GROUP BY 1),
probes AS (
  SELECT DISTINCT t.user_id, t.true_count, rb.width, rb.row, rb.bucket
  FROM truth t JOIN rb USING (user_id)
),
est AS (
  SELECT p.user_id, p.width, p.true_count, min(s.cnt) AS est_count
  FROM probes p
  JOIN sketch s ON p.width = s.width AND p.row = s.row AND p.bucket = s.bucket
  GROUP BY 1, 2, 3
)
SELECT CAST(width AS INT) AS width,
       CAST({CMS_DEPTH} AS INT) AS depth,
       CAST(count(*) AS BIGINT) AS n_keys,
       round(avg(est_count - true_count) + 1e-9, 6) AS mean_overcount,
       CAST(max(est_count - true_count) AS BIGINT) AS max_overcount,
       round(avg((est_count - true_count) * 1.0 / true_count) + 1e-9, 6) AS mean_rel_overcount
FROM est GROUP BY 1
"""


CMS_WIDTH_ERROR_CURVE_SQL = _cms_width_error_sql()


# ---------------------------------------------------------------------------
# events_user_count_hll_manual — hand-rolled HyperLogLog, fully value-gated
# ---------------------------------------------------------------------------

HLL_P = 9
HLL_M = 1 << HLL_P  # 512 registers
# alpha for m >= 128 (Flajolet et al. 2007)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# md5_long yields 60 bits; p=9 go to the register index, 51 remain
HLL_W_BITS = 60 - HLL_P


def _hll_registers(ev: DataFrame, *keys: str) -> DataFrame:
    """The hand-rolled HLL's register maxima of ``ev``'s user_id per
    ``keys``: register = h mod HLL_M, rho = leading-zero count of the
    remaining HLL_W_BITS bits + 1."""
    h = md5_long(F.col("user_id").cast("string"), salt="hll:")
    w = h.bitwiseAND(F.lit((1 << HLL_W_BITS) - 1))
    # bit_length(w) via the base-2 string — exact integer path
    rho = F.when(w == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.conv(w, 10, 2))
    )
    return (
        ev.select(*keys, (h % HLL_M).alias("register"), rho.alias("rho"))
        .groupBy(*keys, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def _hll_estimate(regs: DataFrame, *keys: str, name: str) -> DataFrame:
    """The HLL estimate ``name`` per ``keys`` from register maxima
    ``regs``, small-range corrected and rounded to 4 dp."""
    # harmonic sum over PRESENT registers; absent registers
    # contribute 2^0 = 1 each, added as (m - n_present)
    per = regs.groupBy(*keys).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("present_sum"),
        F.count(F.lit(1)).alias("n_present"),
    )
    z = F.col("present_sum") + (F.lit(HLL_M) - F.col("n_present"))
    raw_e = F.lit(HLL_ALPHA * HLL_M * HLL_M) / z
    v = F.lit(HLL_M) - F.col("n_present")  # zero registers
    small = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v)
    est = F.when((raw_e <= 2.5 * HLL_M) & (v > 0), small).otherwise(raw_e)
    return per.select(*keys, F.round(est + 1e-9, 4).alias(name))


def _hll_registers_sql(src: str, keys: str, regs: str) -> str:
    """DuckDB twin of ``_hll_registers`` over the relation ``src``: the
    ``hashed`` and ``rr`` CTEs and the register-maxima CTE ``regs``."""
    mask = (1 << HLL_W_BITS) - 1
    by = ", ".join(str(i) for i in range(1, keys.count(",") + 3))
    return f"""hashed AS (
  SELECT {keys},
         {md5_long_sql('CAST(user_id AS VARCHAR)', salt='hll:')} AS h
  FROM {src}
),
rr AS (
  SELECT {keys}, h % {HLL_M} AS register,
         CASE WHEN (h & {mask}) = 0 THEN {HLL_W_BITS + 1}
              ELSE {HLL_W_BITS + 1} - length(format('{{:b}}', h & {mask}))
         END AS rho
  FROM hashed
),
{regs} AS (
  SELECT {keys}, register, max(rho) AS max_rho FROM rr GROUP BY {by}
)"""


def _hll_estimate_sql(regs: str, keys: str, name: str) -> str:
    """DuckDB twin of ``_hll_estimate``: the SELECT of the estimate
    ``name`` per ``keys`` from the register-maxima relation ``regs``."""
    z = f"(present_sum + ({HLL_M} - n_present))"
    return f"""  SELECT {keys},
         round(CASE WHEN {HLL_ALPHA * HLL_M * HLL_M} / {z}
                         <= 2.5 * {HLL_M} AND ({HLL_M} - n_present) > 0
                    THEN {float(HLL_M)} * ln({float(HLL_M)} / ({HLL_M} - n_present))
                    ELSE {HLL_ALPHA * HLL_M * HLL_M} / {z}
               END + 1e-9, 4) AS {name}
  FROM (
    SELECT {keys}, sum(pow(2.0, -max_rho)) AS present_sum, count(*) AS n_present
    FROM {regs} GROUP BY {keys}
  )"""


def events_user_count_hll_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users via a HAND-ROLLED HyperLogLog —
    the engine-internal approx_count_distinct can never hash-match a
    DuckDB oracle (its sketch state is private), but this one is
    deterministic md5 + integer bit math, so the whole estimator —
    registers, bias correction, small-range correction, relative
    error vs exact — rides the value gate.

    register = h mod 512; rho = leading-zero count of the remaining
    51 bits + 1, computed from the binary-string length (no float
    log, so no pow-boundary risk). Register maxima build in ONE
    |types|·512-group partial-agg shuffle regardless of corpus size
    — the sketch's raison d'être, and partial max combines map-side
    exactly like a cluster merge of per-executor sketches."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    regs = _hll_registers(ev, "event_type")
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_users"))
    est = _hll_estimate(regs, "event_type", name="hll_estimate")
    return est.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        "hll_estimate",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("exact_users")) / F.col("exact_users") + 1e-9, 6
        ).alias("rel_error"),
    )


EVENTS_HLL_MANUAL_SQL = f"""
WITH {_hll_registers_sql("events", "event_type", "regs")},
est AS (
{_hll_estimate_sql("regs", "event_type", "hll_estimate")}
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1
)
SELECT est.event_type, exact_users, hll_estimate,
       round(abs(hll_estimate - exact_users) / exact_users + 1e-9, 6) AS rel_error
FROM est JOIN exact USING (event_type)
"""


# ---------------------------------------------------------------------------
# user_event_features — pivoted per-user feature matrix
# ---------------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def user_event_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ML feature-engineering pivot: one row per user with
    per-event-type counts and value sums as columns — the wide
    matrix a churn/LTV model trains on. Explicit pivot values
    (EVENT_TYPES) so Spark skips the distinct-scan pass a blind
    pivot needs; conditional aggregation collapses map-side, one
    user_id shuffle of |types|·2 partials per user."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    aggs = [F.count(F.lit(1)).alias("n_events")]
    for t in EVENT_TYPES:
        is_t = (F.col("event_type") == t).cast("long")
        aggs.append(F.sum(is_t).alias(f"n_{t}"))
        aggs.append(
            F.round(F.sum(F.when(F.col("event_type") == t, F.col("value")).otherwise(0.0)) + 1e-9, 4).alias(
                f"{t}_value"
            )
        )
    return ev.groupBy("user_id").agg(*aggs)


USER_EVENT_FEATURES_SQL = f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       {", ".join(
           f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}, "
           f"round(sum(CASE WHEN event_type = '{t}' THEN value ELSE 0.0 END) + 1e-9, 4) AS {t}_value"
           for t in EVENT_TYPES
       )}
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# events_attribution — last-touch attribution within a 7-day window
# ---------------------------------------------------------------------------

ATTRIBUTION_WINDOW_US = 7 * 24 * 3600 * 1_000_000


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the
    user's most recent click no older than 7 days. One user_id
    window pass carries the last-seen click forward
    (last(..., ignorenulls) over an unbounded-preceding frame is
    O(1) running state, not a buffer); no self-join, no as-of
    explosion — the classic marketing-attribution shape at
    clickstream scale."""
    ev = _events_us(spark, sf_dir).select("event_id", "user_id", "ts_us", "event_type")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click = F.when(
        F.col("event_type") == "click",
        F.struct(F.col("ts_us").alias("c_ts"), F.col("event_id").alias("c_id")),
    )
    last_click = F.last(click, ignorenulls=True).over(w)
    flagged = ev.withColumn("lc", last_click).filter(F.col("event_type") == "purchase")
    lag = F.col("ts_us") - F.col("lc.c_ts")
    attributed = F.col("lc").isNotNull() & (lag <= ATTRIBUTION_WINDOW_US)
    return flagged.select(
        "event_id",
        "user_id",
        F.when(attributed, F.col("lc.c_id")).alias("attributed_click_id"),
        F.when(attributed, lag).alias("attribution_lag_us"),
    )


EVENTS_ATTRIBUTION_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events
),
carried AS (
  SELECT *,
         last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_ts,
         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_id
  FROM ev
)
SELECT event_id, user_id,
       CASE WHEN c_ts IS NOT NULL AND ts_us - c_ts <= {ATTRIBUTION_WINDOW_US} THEN c_id END
         AS attributed_click_id,
       CASE WHEN c_ts IS NOT NULL AND ts_us - c_ts <= {ATTRIBUTION_WINDOW_US} THEN ts_us - c_ts END
         AS attribution_lag_us
FROM carried
WHERE event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# events_trailing_1h — time-RANGE-frame trailing window per user
# ---------------------------------------------------------------------------


def events_trailing_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-one-hour activity at every event: count and
    value sum over RANGE BETWEEN 3600s PRECEDING AND CURRENT ROW in
    event time — the rate-limiter / velocity-check frame. A RANGE
    frame (not ROWS): simultaneous events all see the same window
    regardless of tie order, so the result is deterministic without
    any tiebreak column, and the frame state is bounded by an hour
    of one user's events, not their history. One shuffle on
    user_id. Both engines order by exact integer MICROSECONDS
    (events_ts_us / epoch_us) — an earlier unix_timestamp version
    truncated Spark's ordering key to seconds while the oracle used
    a full-precision INTERVAL frame, and the two disagreed on
    events within a second of the exact 1-hour boundary (first
    surfaced at sf0.1, where the data is dense enough to land
    there)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy(events_ts_us(ev))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_events_1h"),
        F.round(F.sum("value").over(w) + 1e-9, 4).alias("value_sum_1h"),
    )


EVENTS_TRAILING_1H_SQL = """
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_events_1h,
       round(sum(value) OVER w + 1e-9, 4) AS value_sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# events_hour_dow_heatmap — hour × weekday activity matrix
# ---------------------------------------------------------------------------


def events_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ops heatmap: event counts and mean value per
    (ISO weekday, hour-of-day) cell, each cell's share of the
    week — the capacity/staffing picture behind
    `events_forecast_backtest`'s seasonal profile. One
    map-side-combined groupBy to ≤168 rows plus a broadcast total;
    weekday is ISO (Mon=1) in both engines."""
    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    cells = ev.groupBy(
        F.dayofweek("ts").alias("dow_sun1"),
        F.hour("ts").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value") + 1e-9, 4).alias("mean_value"),
    )
    # normalize to ISO weekday (Mon=1..Sun=7) from Spark's Sun=1
    iso = F.when(F.col("dow_sun1") == 1, 7).otherwise(F.col("dow_sun1") - 1)
    total = cells.agg(F.sum("n_events").alias("t"))
    return cells.crossJoin(F.broadcast(total)).select(
        iso.cast("int").alias("iso_weekday"),
        F.col("hour").cast("int").alias("hour"),
        F.col("n_events").cast("long").alias("n_events"),
        "mean_value",
        F.round(F.col("n_events") / F.col("t") + 1e-9, 6).alias("week_share"),
    )


EVENTS_HOUR_DOW_HEATMAP_SQL = """
WITH cells AS (
  SELECT isodow(ts) AS iso_weekday, extract(hour FROM ts) AS hour,
         count(*) AS n_events,
         round(avg(value) + 1e-9, 4) AS mean_value
  FROM events GROUP BY 1, 2
),
t AS (SELECT sum(n_events) AS t FROM cells)
SELECT CAST(iso_weekday AS INT) AS iso_weekday, CAST(hour AS INT) AS hour,
       CAST(n_events AS BIGINT) AS n_events, mean_value,
       round(n_events * 1.0 / t.t + 1e-9, 6) AS week_share
FROM cells CROSS JOIN t
"""


# ---------------------------------------------------------------------------
# attribution_lag_cdf — conversion-lag CDF at decision thresholds
# ---------------------------------------------------------------------------

LAG_CDF_MINUTES = [5, 10, 30, 60, 1440]


def attribution_lag_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-lag CDF: of the purchases `events_attribution`
    ties to a click, what share converted within 5/10/30/60/1440
    minutes — the curve that picks the attribution window itself
    (a knee at 30 min says the 7-day window is mostly dead weight).
    Reuses the last-touch attribution frame (one user window pass);
    the threshold fan-out is a broadcast join against |thresholds|
    rows over the already-aggregated purchase frame."""
    attributed = events_attribution(spark, sf_dir).filter(
        F.col("attributed_click_id").isNotNull()
    )
    total = attributed.agg(F.count(F.lit(1)).alias("n_attributed"))
    ts = spark.createDataFrame([(m,) for m in LAG_CDF_MINUTES], "threshold_min int")
    hits = (
        attributed.crossJoin(F.broadcast(ts))
        .filter(
            F.col("attribution_lag_us")
            <= F.col("threshold_min").cast("long") * F.lit(60_000_000).cast("long")
        )
        .groupBy("threshold_min")
        .agg(F.count(F.lit(1)).cast("long").alias("n_within"))
    )
    return hits.crossJoin(F.broadcast(total)).select(
        "threshold_min",
        "n_within",
        F.col("n_attributed").cast("long").alias("n_attributed"),
        F.round(F.col("n_within") / F.col("n_attributed") + 1e-9, 6).alias(
            "share_within"
        ),
    )


def _attribution_lag_cdf_sql() -> str:
    return f"""
WITH att AS (
  SELECT attribution_lag_us FROM ({EVENTS_ATTRIBUTION_SQL})
  WHERE attributed_click_id IS NOT NULL
),
total AS (SELECT count(*) AS n_attributed FROM att),
ts AS (SELECT unnest([{", ".join(str(m) for m in LAG_CDF_MINUTES)}]) AS threshold_min)
SELECT CAST(ts.threshold_min AS INT) AS threshold_min,
       CAST(count(*) AS BIGINT) AS n_within,
       CAST(t.n_attributed AS BIGINT) AS n_attributed,
       round(count(*) * 1.0 / t.n_attributed + 1e-9, 6) AS share_within
FROM ts JOIN att a ON a.attribution_lag_us <= CAST(ts.threshold_min AS BIGINT) * 60000000
CROSS JOIN total t
GROUP BY ts.threshold_min, t.n_attributed
"""


ATTRIBUTION_LAG_CDF_SQL = _attribution_lag_cdf_sql()


# ---------------------------------------------------------------------------
# user_aging_curve — behavior by days-since-first-event bucket
# ---------------------------------------------------------------------------


def user_aging_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User aging curve: events bucketed by the user's age in days
    at the moment of the event (days since their first event),
    with per-bucket event counts, active-user counts, events per
    active user, and mean value — the maturation profile that
    separates onboarding behavior from steady state. The user's
    first-event time is one min-aggregate joined back on user_id
    (reusing the same key the bucket groupBy shuffles on); no
    window over history is needed."""
    ev = _events_us(spark, sf_dir).select("user_id", "ts_us", "value")
    first = ev.groupBy("user_id").agg(F.min("ts_us").alias("first_us"))
    aged = ev.join(first, "user_id").select(
        "user_id",
        "value",
        ((F.col("ts_us") - F.col("first_us")) / F.lit(86_400_000_000)).cast("long").alias(
            "age_days"
        ),
    )
    return aged.groupBy("age_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(F.count(F.lit(1)) / F.countDistinct("user_id") + 1e-9, 4).alias(
            "events_per_user"
        ),
        F.round(F.avg("value") + 1e-9, 4).alias("mean_value"),
    )


USER_AGING_CURVE_SQL = """
WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
first AS (SELECT user_id, min(ts_us) AS first_us FROM ev GROUP BY 1),
aged AS (
  SELECT e.user_id, e.value,
         CAST((e.ts_us - f.first_us) // 86400000000 AS BIGINT) AS age_days
  FROM ev e JOIN first f USING (user_id)
)
SELECT age_days,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(count(*) * 1.0 / count(DISTINCT user_id) + 1e-9, 4) AS events_per_user,
       round(avg(value) + 1e-9, 4) AS mean_value
FROM aged
GROUP BY age_days
"""


# ---------------------------------------------------------------------------
# events_type_anova — one-way ANOVA of value across event types
# ---------------------------------------------------------------------------

ANOVA_F_CRIT = 2.372  # α = 0.05, df1 = 4, df2 = ∞


def events_type_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean `value` differ across event types?
    F = between-group mean square / within-group mean square,
    computed entirely from per-group sufficient statistics
    (n, Σv, Σv²) — one map-side-combined groupBy and |types| rows
    of algebra, the third member of the statistics family next to
    the χ² independence test and Welch A/B t. Emits group count,
    total n, F, dof pair, and the α=0.05 verdict."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_tot"),
        F.sum("s").alias("s_tot"),
    )
    cells = g.crossJoin(F.broadcast(tot))
    # SS_between = Σ n_i (m_i - m)²; SS_within = Σ (ss_i - s_i²/n_i)
    grand_m = F.col("s_tot") / F.col("n_tot")
    m_i = F.col("s") / F.col("n")
    agg = cells.agg(
        F.first("k").alias("k"),
        F.first("n_tot").alias("n_tot"),
        F.sum(F.col("n") * (m_i - grand_m) * (m_i - grand_m)).alias("ssb"),
        F.sum(F.col("ss") - F.col("s") * F.col("s") / F.col("n")).alias("ssw"),
    )
    f_stat = (F.col("ssb") / (F.col("k") - 1)) / (
        F.col("ssw") / (F.col("n_tot") - F.col("k"))
    )
    return agg.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("n_tot").cast("long").alias("n_total"),
        F.round(f_stat + 1e-9, 4).alias("f_stat"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n_tot") - F.col("k")).cast("long").alias("df_within"),
        (F.round(f_stat + 1e-9, 4) > ANOVA_F_CRIT).alias("means_differ"),
    )


EVENTS_TYPE_ANOVA_SQL = f"""
WITH g AS (
  SELECT event_type, count(*) AS n, sum(value) AS s, sum(value * value) AS ss
  FROM events GROUP BY 1
),
tot AS (SELECT count(*) AS k, sum(n) AS N, sum(s) AS S FROM g),
agg AS (
  SELECT min(t.k) AS k, min(t.N) AS N,
         sum(g.n * (g.s / g.n - t.S / t.N) * (g.s / g.n - t.S / t.N)) AS ssb,
         sum(g.ss - g.s * g.s / g.n) AS ssw
  FROM g CROSS JOIN tot t
)
SELECT CAST(k AS BIGINT) AS n_groups, CAST(N AS BIGINT) AS n_total,
       round((ssb / (k - 1)) / (ssw / (N - k)) + 1e-9, 4) AS f_stat,
       CAST(k - 1 AS BIGINT) AS df_between,
       CAST(N - k AS BIGINT) AS df_within,
       round((ssb / (k - 1)) / (ssw / (N - k)) + 1e-9, 4) > {ANOVA_F_CRIT}
         AS means_differ
FROM agg
"""


# ---------------------------------------------------------------------------
# events_next_event_eval — time-split Markov next-event prediction
# ---------------------------------------------------------------------------

NEXT_EVENT_SPLIT = "2024-01-20"


def events_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction with honest evaluation hygiene: a
    first-order Markov model (argmax of the transition matrix,
    ties → lexicographic) TRAINS on transitions before
    NEXT_EVENT_SPLIT and is TESTED on transitions after it, against
    the majority-class baseline trained on the same window — the
    time-based train/test split that keeps a sequence model from
    grading itself on memorized data. Emits per prior-state test
    accuracy vs baseline accuracy and the lift.

    Scale design: transitions come from one user-keyed lead()
    window over the events; both models are ≤|types|² aggregate
    rows that broadcast back onto the |types|-grain test aggregate
    — the fact-scale work is exactly two window/agg passes."""
    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "ts_us", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    trans = ev.select(
        "ts",
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    split = F.lit(f"{NEXT_EVENT_SPLIT} 00:00:00").cast("timestamp")
    train = trans.filter(F.col("ts") < split)
    test = trans.filter(F.col("ts") >= split)
    model = (
        train.groupBy("prev", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("prev").orderBy(F.col("c").desc(), "nxt")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("prev", F.col("nxt").alias("pred"))
    )
    base = (
        train.groupBy("nxt")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "nxt")
        .limit(1)
        .select(F.col("nxt").alias("base_pred"))
    )
    scored = test.join(F.broadcast(model), "prev").crossJoin(F.broadcast(base))
    return scored.groupBy("prev").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.round(F.avg((F.col("nxt") == F.col("pred")).cast("double")) + 1e-9, 6).alias(
            "model_acc"
        ),
        F.round(
            F.avg((F.col("nxt") == F.col("base_pred")).cast("double")) + 1e-9, 6
        ).alias("baseline_acc"),
        F.round(
            F.avg((F.col("nxt") == F.col("pred")).cast("double"))
            - F.avg((F.col("nxt") == F.col("base_pred")).cast("double"))
            + 1e-9,
            6,
        ).alias("lift"),
    )


EVENTS_NEXT_EVENT_EVAL_SQL = f"""
WITH trans AS (
  SELECT ts, event_type AS prev,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS nxt
  FROM events
),
t2 AS (SELECT * FROM trans WHERE nxt IS NOT NULL),
train AS (SELECT * FROM t2 WHERE ts < TIMESTAMP '{NEXT_EVENT_SPLIT} 00:00:00'),
test AS (SELECT * FROM t2 WHERE ts >= TIMESTAMP '{NEXT_EVENT_SPLIT} 00:00:00'),
model AS (
  SELECT prev, nxt AS pred FROM (
    SELECT prev, nxt, row_number() OVER (PARTITION BY prev
                                         ORDER BY count(*) DESC, nxt) AS rn
    FROM train GROUP BY prev, nxt
  ) WHERE rn = 1
),
base AS (
  SELECT nxt AS base_pred FROM train GROUP BY nxt
  ORDER BY count(*) DESC, nxt LIMIT 1
)
SELECT t.prev,
       CAST(count(*) AS BIGINT) AS n_test,
       round(avg(CASE WHEN t.nxt = m.pred THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
         AS model_acc,
       round(avg(CASE WHEN t.nxt = b.base_pred THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
         AS baseline_acc,
       round(avg(CASE WHEN t.nxt = m.pred THEN 1.0 ELSE 0.0 END)
             - avg(CASE WHEN t.nxt = b.base_pred THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
         AS lift
FROM test t JOIN model m ON t.prev = m.prev CROSS JOIN base b
GROUP BY t.prev
"""


# ---------------------------------------------------------------------------
# events_attribution_time_decay — multi-touch attribution with decay
# ---------------------------------------------------------------------------

DECAY_WINDOW_US = 30 * 60 * 1_000_000  # lookback
DECAY_HALF_LIFE_US = 10 * 60 * 1_000_000  # credit halves every 10 min


def events_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution with exponential time decay: every
    click in the 30 minutes before a purchase shares the credit,
    weighted pow(0.5, lag/half_life) and normalized per purchase —
    the fairer sibling of `events_attribution`'s winner-take-all
    last-touch. Emits, per purchase: touchpoint count, the
    top-credited click and its normalized share.

    Scale design: the purchase×click pairing uses the binned range
    join (time buckets of window width; a purchase's candidates
    live in its own or the previous bucket — two hash-join probes,
    never a time-range nested loop), then one per-purchase window
    normalizes and ranks. Same-user pairing keys the shuffle on
    (user_id, bucket) — clickstream-partition friendly."""
    ev = _events_us(spark, sf_dir).select("event_id", "user_id", "ts_us", "event_type")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us").alias("p_ts"),
        F.floor(F.col("ts_us") / DECAY_WINDOW_US).alias("p_bucket"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts_us").alias("c_ts"),
        F.floor(F.col("ts_us") / DECAY_WINDOW_US).alias("c_bucket"),
    )
    probes = purch.withColumn(
        "c_bucket", F.explode(F.array(F.col("p_bucket"), F.col("p_bucket") - 1))
    )
    pairs = probes.join(clicks, ["user_id", "c_bucket"]).filter(
        (F.col("p_ts") - F.col("c_ts") >= 0)
        & (F.col("p_ts") - F.col("c_ts") <= DECAY_WINDOW_US)
    )
    w = F.pow(F.lit(0.5), (F.col("p_ts") - F.col("c_ts")) / DECAY_HALF_LIFE_US)
    weighted = pairs.withColumn("w", w)
    wp = Window.partitionBy("purchase_id")
    credited = weighted.withColumn(
        "credit", F.round(F.col("w") / F.sum("w").over(wp) + 1e-9, 6)
    )
    rn = F.row_number().over(
        wp.orderBy(F.col("credit").desc(), F.col("click_id").desc())
    )
    return (
        credited.withColumn("rn", rn)
        .withColumn("n_touchpoints", F.count(F.lit(1)).over(wp).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "n_touchpoints",
            F.col("click_id").alias("top_click_id"),
            F.col("credit").alias("top_click_credit"),
        )
    )


EVENTS_ATTRIBUTION_TIME_DECAY_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events
),
purch AS (
  SELECT event_id AS purchase_id, user_id, ts_us AS p_ts FROM ev
  WHERE event_type = 'purchase'
),
clicks AS (
  SELECT event_id AS click_id, user_id, ts_us AS c_ts FROM ev
  WHERE event_type = 'click'
),
pairs AS (
  SELECT p.purchase_id, p.user_id, c.click_id,
         pow(0.5, (p.p_ts - c.c_ts) * 1.0 / {DECAY_HALF_LIFE_US}) AS w
  FROM purch p JOIN clicks c
    ON p.user_id = c.user_id
   AND p.p_ts - c.c_ts >= 0 AND p.p_ts - c.c_ts <= {DECAY_WINDOW_US}
),
credited AS (
  SELECT purchase_id, user_id, click_id,
         round(w / sum(w) OVER (PARTITION BY purchase_id) + 1e-9, 6) AS credit,
         count(*) OVER (PARTITION BY purchase_id) AS n_touchpoints
  FROM pairs
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY purchase_id
                               ORDER BY credit DESC, click_id DESC) AS rn
  FROM credited
)
SELECT purchase_id, user_id, CAST(n_touchpoints AS BIGINT) AS n_touchpoints,
       click_id AS top_click_id, credit AS top_click_credit
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# user_ctr_wilson — CTR ranking by Wilson lower bound
# ---------------------------------------------------------------------------

WILSON_Z = 1.96
WILSON_TOP_K = 25
WILSON_MIN_VIEWS = 10


def user_ctr_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank users by click-through rate THE RIGHT WAY: the Wilson
    score lower bound at z=1.96 instead of the raw ratio — the
    uncertainty-aware ranking (the "how not to sort by average
    rating" fix) that stops 1-view/1-click accounts from topping
    the list. The proportion is clicks / (views + clicks) — a true
    [0,1] binomial share of attention events; users need ≥
    WILSON_MIN_VIEWS such events to rank. One map-side-combined
    groupBy to per-user (views, clicks); the Wilson algebra is
    row-local; top-k is TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "view").cast("long")).alias("views"),
        F.sum((F.col("event_type") == "click").cast("long")).alias("clicks"),
    ).filter(F.col("views") + F.col("clicks") >= WILSON_MIN_VIEWS)
    z2 = WILSON_Z * WILSON_Z
    n = (F.col("views") + F.col("clicks")).cast("double")
    p = F.col("clicks") / n
    lb = (
        p
        + z2 / (2 * n)
        - WILSON_Z * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    ) / (1 + z2 / n)
    scored = per_user.select(
        "user_id",
        "views",
        "clicks",
        F.round(p + 1e-9, 6).alias("ctr"),
        F.round(lb + 1e-9, 6).alias("wilson_lb"),
    )
    top = scored.orderBy(F.col("wilson_lb").desc(), "user_id").limit(WILSON_TOP_K)
    rn = F.row_number().over(Window.orderBy(F.col("wilson_lb").desc(), "user_id"))
    return top.withColumn("rank", rn.cast("int")).select(
        "rank", "user_id", "views", "clicks", "ctr", "wilson_lb"
    )


USER_CTR_WILSON_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks
  FROM events GROUP BY 1
  HAVING sum(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
           >= {WILSON_MIN_VIEWS}
),
scored AS (
  SELECT user_id, views, clicks,
         round(clicks * 1.0 / (views + clicks) + 1e-9, 6) AS ctr,
         round((clicks * 1.0 / (views + clicks)
                + {WILSON_Z * WILSON_Z} / (2 * (views + clicks))
                - {WILSON_Z} * sqrt((clicks * 1.0 / (views + clicks))
                                    * (1 - clicks * 1.0 / (views + clicks))
                                    / (views + clicks)
                                    + {WILSON_Z * WILSON_Z}
                                      / (4 * (views + clicks) * (views + clicks))))
               / (1 + {WILSON_Z * WILSON_Z} / (views + clicks)) + 1e-9, 6) AS wilson_lb
  FROM per_user
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY wilson_lb DESC, user_id) AS rank
  FROM scored
)
SELECT CAST(rank AS INT) AS rank, user_id, views, clicks, ctr, wilson_lb
FROM ranked WHERE rank <= {WILSON_TOP_K}
"""


# ---------------------------------------------------------------------------
# events_ab_test — hash-randomized A/B comparison with Welch's t
# ---------------------------------------------------------------------------

AB_Z_CRIT = 1.96


def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimentation primitive end to end: users are
    hash-randomized into arms (md5 parity — deterministic,
    reproducible, uncorrelated with anything), and each event
    type's `value` is compared between arms with Welch's unequal-
    variance t statistic + the |t| > 1.96 significance flag. On a
    null experiment like this hash split, the flags should almost
    always be false — which is itself the A/A sanity check every
    experimentation platform runs first.

    Scale design: one map-side-combined groupBy collapses events to
    per-(type, arm) count/sum/sum-of-squares — the sufficient
    statistics; the t math runs on |types| rows. No window, no
    join wider than the 2-arm pivot."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id", "value")
    arm = (md5_long(F.col("user_id").cast("string"), salt="ab:") % 2).alias("arm")
    stats = ev.select("event_type", arm, "value").groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    a = stats.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("na"),
        (F.col("s") / F.col("n")).alias("ma"),
        ((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)).alias("va"),
    )
    b = stats.filter(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("nb"),
        (F.col("s") / F.col("n")).alias("mb"),
        ((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)).alias("vb"),
    )
    j = a.join(b, "event_type")
    se = F.sqrt(F.col("va") / F.col("na") + F.col("vb") / F.col("nb"))
    t = (F.col("mb") - F.col("ma")) / se
    return j.select(
        "event_type",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.col("ma") + 1e-9, 4).alias("mean_a"),
        F.round(F.col("mb") + 1e-9, 4).alias("mean_b"),
        F.round(t + 1e-9, 4).alias("t_stat"),
        (F.abs(F.round(t + 1e-9, 4)) > AB_Z_CRIT).alias("significant"),
    )


EVENTS_AB_TEST_SQL = f"""
WITH assigned AS (
  SELECT event_type,
         {md5_long_sql('CAST(user_id AS VARCHAR)', salt='ab:')} % 2 AS arm,
         value
  FROM events
),
stats AS (
  SELECT event_type, arm, count(*) AS n, sum(value) AS s, sum(value * value) AS ss
  FROM assigned GROUP BY 1, 2
),
a AS (SELECT event_type, n AS na, s / n AS ma,
             (ss - s * s / n) / (n - 1) AS va FROM stats WHERE arm = 0),
b AS (SELECT event_type, n AS nb, s / n AS mb,
             (ss - s * s / n) / (n - 1) AS vb FROM stats WHERE arm = 1)
SELECT a.event_type,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(ma + 1e-9, 4) AS mean_a,
       round(mb + 1e-9, 4) AS mean_b,
       round((mb - ma) / sqrt(va / na + vb / nb) + 1e-9, 4) AS t_stat,
       abs(round((mb - ma) / sqrt(va / na + vb / nb) + 1e-9, 4)) > {AB_Z_CRIT}
         AS significant
FROM a JOIN b USING (event_type)
"""


# ---------------------------------------------------------------------------
# events_value_winsorize — robust clipping at exact per-type percentiles
# ---------------------------------------------------------------------------


def events_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization audit: per event type, clamp `value` at the
    EXACT p1/p99 (value at rank ceil(q·n) in (value, event_id)
    order — a deterministic order statistic, not an interpolated
    approximation) and report the clip thresholds, how many rows
    each tail clipped, and the mean before/after — the robust
    preprocessing step feature pipelines run before z-scoring
    heavy-tailed metrics. One event_type-keyed window sort finds
    the ranks; the clip + means reuse the same exchange."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    bounds = (
        ranked.filter(
            (F.col("rn") == F.ceil(0.01 * F.col("n")))
            | (F.col("rn") == F.ceil(0.99 * F.col("n")))
        )
        .groupBy("event_type")
        .agg(F.min("value").alias("p01"), F.max("value").alias("p99"))
    )
    clipped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "value",
        "p01",
        "p99",
        F.greatest(F.col("p01"), F.least(F.col("p99"), F.col("value"))).alias("wv"),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.min("p01") + 1e-9, 4).alias("p01"),
        F.round(F.min("p99") + 1e-9, 4).alias("p99"),
        F.sum((F.col("value") < F.col("p01")).cast("long")).alias("n_clipped_low"),
        F.sum((F.col("value") > F.col("p99")).cast("long")).alias("n_clipped_high"),
        F.round(F.avg("value") + 1e-9, 4).alias("mean_raw"),
        F.round(F.avg("wv") + 1e-9, 4).alias("mean_winsorized"),
    )


EVENTS_VALUE_WINSORIZE_SQL = """
WITH ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
bounds AS (
  SELECT event_type, min(value) AS p01, max(value) AS p99
  FROM ranked
  WHERE rn = CAST(ceil(0.01 * n) AS BIGINT) OR rn = CAST(ceil(0.99 * n) AS BIGINT)
  GROUP BY event_type
),
clipped AS (
  SELECT e.event_type, e.value, b.p01, b.p99,
         greatest(b.p01, least(b.p99, e.value)) AS wv
  FROM events e JOIN bounds b USING (event_type)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(min(p01) + 1e-9, 4) AS p01,
       round(min(p99) + 1e-9, 4) AS p99,
       CAST(sum(CASE WHEN value < p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
       CAST(sum(CASE WHEN value > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
       round(avg(value) + 1e-9, 4) AS mean_raw,
       round(avg(wv) + 1e-9, 4) AS mean_winsorized
FROM clipped
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# events_session_paths — most common session event-type sequences
# ---------------------------------------------------------------------------

SESSION_PATH_TOP_K = 20
SESSION_PATH_MAX_LEN = 8


def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session paths: sessionize (same gap rule as
    `events_sessionize`), render each session's first
    SESSION_PATH_MAX_LEN event types as an ordered "a>b>c" path,
    and count the corpus-wide top-SESSION_PATH_TOP_K paths — the
    sequence-mining lite that answers "how do users actually move
    through the product". Truncation to MAX_LEN bounds both the
    path-string width and the distinct-path cardinality.

    Plan shape: one user_id window pass sessionizes, the path
    renders inside a per-session sort_array aggregate (no second
    ordering shuffle), and the final top-k is
    TakeOrderedAndProject over the |distinct paths| count frame."""
    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "ts_us", "event_type")
    paths = _sessions(ev).groupBy("user_id", "session_idx").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("ts_us", "event_id", "event_type"))),
                    lambda x: x["event_type"],
                ),
                1,
                SESSION_PATH_MAX_LEN,
            ),
            ">",
        ).alias("path"),
        F.count(F.lit(1)).alias("session_len"),
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.round(F.avg("session_len") + 1e-9, 4).alias("avg_session_len"),
    )
    top = counts.orderBy(F.col("n_sessions").desc(), "path").limit(SESSION_PATH_TOP_K)
    rn = F.row_number().over(Window.orderBy(F.col("n_sessions").desc(), "path"))
    return top.withColumn("rank", rn.cast("int")).select(
        "rank", "path", "n_sessions", "avg_session_len"
    )


EVENTS_SESSION_PATHS_SQL = f"""
{_sessions_sql("event_type")},
paths AS (
  SELECT user_id, session_idx,
         array_to_string(
           list_slice(list(event_type ORDER BY ts_us, event_id), 1, {SESSION_PATH_MAX_LEN}),
           '>') AS path,
         count(*) AS session_len
  FROM sessions GROUP BY 1, 2
),
counts AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
         round(avg(session_len) + 1e-9, 4) AS avg_session_len
  FROM paths GROUP BY 1
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path) AS rank
  FROM counts
)
SELECT CAST(rank AS INT) AS rank, path, n_sessions, avg_session_len
FROM ranked WHERE rank <= {SESSION_PATH_TOP_K}
"""


# ---------------------------------------------------------------------------
# events_incremental_refresh — partition-pruned materialized-view repair
# ---------------------------------------------------------------------------

REFRESH_CUTOFF = "2024-01-25"


def events_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a late micro-batch
    (events on/after REFRESH_CUTOFF standing in for the new
    arrivals) touches only SOME 5-minute windows, so the refresh
    recomputes exactly the affected (window, type) partitions —
    never the whole rollup. The affected-window set is a distinct
    aggregate of the batch (tiny), and the full table is pruned by
    a semi-join on the window key before any aggregation — the
    declarative form of "recompute only dirty partitions", which is
    the difference between O(batch) and O(history) on a year-long
    100 TB rollup. Output = the refreshed rows a MERGE would
    upsert."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    win = (F.unix_timestamp("ts") - F.unix_timestamp("ts") % 300).alias("win_start")
    evw = ev.select(win, "event_type", "value")
    batch_windows = (
        evw.filter(
            F.col("win_start")
            >= F.unix_timestamp(F.lit(f"{REFRESH_CUTOFF} 00:00:00"))
        )
        .select("win_start")
        .distinct()
    )
    affected = evw.join(batch_windows, "win_start", "left_semi")
    return affected.groupBy("win_start", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value") + 1e-9, 4).alias("value_sum"),
    ).select(
        F.to_timestamp(F.from_unixtime("win_start")).alias("window_start"),
        "event_type",
        "n_events",
        "value_sum",
    )


EVENTS_INCREMENTAL_REFRESH_SQL = f"""
WITH evw AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 300 AS win_start, event_type, value
  FROM events
),
batch_windows AS (
  SELECT DISTINCT win_start FROM evw
  WHERE win_start >= epoch(TIMESTAMP '{REFRESH_CUTOFF} 00:00:00')::BIGINT
),
affected AS (
  SELECT e.* FROM evw e WHERE EXISTS (
    SELECT 1 FROM batch_windows b WHERE b.win_start = e.win_start)
)
SELECT to_timestamp(win_start)::TIMESTAMP AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value) + 1e-9, 4) AS value_sum
FROM affected
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# events_hll_merge_daily — sketch mergeability: daily HLLs → weekly union
# ---------------------------------------------------------------------------


def events_hll_merge_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that justifies sketches at 100 TB: MERGEABILITY.
    Build the hand-rolled HLL (same md5 register math as
    `events_user_count_hll_manual`) at DAILY grain, then union the
    daily sketches into weekly ones by per-register max — the
    O(m)-sized commutative merge a cluster uses to combine
    per-executor / per-partition / per-day sketch state without
    ever re-touching raw data. Emits, per week: the merged-sketch
    estimate vs the exact distinct count (rel_error), plus the sum
    of the per-day estimates — visibly larger than the union
    because users repeat across days, which is exactly why you
    merge registers instead of adding counts. All md5 + integer
    bit math → every value rides the gate."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    daily_regs = _hll_registers(ev, "week", "day")
    weekly_regs = daily_regs.groupBy("week", "register").agg(
        F.max("max_rho").alias("max_rho")
    )
    merged = _hll_estimate(weekly_regs, "week", name="merged_estimate")
    daily_est = _hll_estimate(daily_regs, "week", "day", name="est")
    daily_sum = daily_est.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.sum("est") + 1e-9, 4).alias("sum_daily_estimates"),
    )
    exact = ev.groupBy("week").agg(F.countDistinct("user_id").alias("exact_users"))
    return (
        merged.join(daily_sum, "week")
        .join(exact, "week")
        .select(
            "week",
            "n_days",
            "exact_users",
            "merged_estimate",
            F.round(
                F.abs(F.col("merged_estimate") - F.col("exact_users"))
                / F.col("exact_users")
                + 1e-9,
                6,
            ).alias("rel_error"),
            "sum_daily_estimates",
        )
    )


EVENTS_HLL_MERGE_DAILY_SQL = f"""
WITH ev AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, CAST(ts AS DATE) AS day,
         user_id
  FROM events
),
{_hll_registers_sql("ev", "week, day", "daily_regs")},
weekly_regs AS (
  SELECT week, register, max(max_rho) AS max_rho FROM daily_regs GROUP BY 1, 2
),
merged AS (
{_hll_estimate_sql("weekly_regs", "week", "merged_estimate")}
),
daily_est AS (
{_hll_estimate_sql("daily_regs", "week, day", "est")}
),
daily_sum AS (
  SELECT week, CAST(count(*) AS BIGINT) AS n_days,
         round(sum(est) + 1e-9, 4) AS sum_daily_estimates
  FROM daily_est GROUP BY week
),
exact AS (SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users FROM ev GROUP BY 1)
SELECT m.week, d.n_days, e.exact_users, m.merged_estimate,
       round(abs(m.merged_estimate - e.exact_users) / e.exact_users + 1e-9, 6) AS rel_error,
       d.sum_daily_estimates
FROM merged m JOIN daily_sum d ON m.week = d.week JOIN exact e ON m.week = e.week
"""


# ---------------------------------------------------------------------------
# events_type_user_overlap — audience overlap matrix between event types
# ---------------------------------------------------------------------------


def events_type_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every event-type pair, the
    exact distinct-user intersection, union, and Jaccard — the
    "do clickers also purchase" audience-planning question. Events
    collapse map-side to distinct (type, user) pairs first; the
    self-join then keys on user_id, so per-key fan-out is bounded
    by |types|² (25) regardless of event volume, and the output is
    |types choose 2| rows. The exact small-dimension twin of the
    sketch-based overlap a 10⁶-type system would use."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    tu = ev.distinct()
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (F.col("n_a") + F.col("n_b") - F.col("n_both")).alias("n_union"),
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
                + 1e-9,
                6,
            ).alias("jaccard"),
        )
    )


EVENTS_TYPE_USER_OVERLAP_SQL = """
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM tu a JOIN tu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1)
SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
       sa.n + sb.n - i.n_both AS n_union,
       round(i.n_both * 1.0 / (sa.n + sb.n - i.n_both) + 1e-9, 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
"""


# ---------------------------------------------------------------------------
# events_forecast_backtest — seasonal-naive hourly forecast + MAPE
# ---------------------------------------------------------------------------

FORECAST_MIN_PRIOR_DAYS = 7


def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each (day, hour)'s
    event count as the mean of the SAME hour over all prior days
    (the hour-of-day seasonal profile — the baseline every fancier
    traffic forecaster must beat), then score each day's MAPE and
    mean signed bias over hours with ≥ FORECAST_MIN_PRIOR_DAYS of
    history. This is the forecast-evaluation loop of a capacity
    planner, run entirely declaratively.

    Scale design: events collapse to the |days|·24 hourly frame in
    one map-side-combined groupBy; every window and the final daily
    aggregate run on that tiny frame — a year of 100 TB events is
    still an 8760-row backtest after the first exchange."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.to_date("ts").alias("day"), F.hour("ts").alias("hod")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("hod")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = hourly.select(
        "day",
        "hod",
        "cnt",
        F.count(F.lit(1)).over(w).alias("n_prior"),
        F.avg("cnt").over(w).alias("fc"),
    ).filter(F.col("n_prior") >= FORECAST_MIN_PRIOR_DAYS)
    return scored.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.round(
            F.avg(F.abs(F.col("cnt") - F.col("fc")) / F.col("cnt")) + 1e-9, 6
        ).alias("mape"),
        F.round(F.avg((F.col("fc") - F.col("cnt")) / F.col("cnt")) + 1e-9, 6).alias(
            "bias"
        ),
    )


EVENTS_FORECAST_BACKTEST_SQL = f"""
WITH hourly AS (
  SELECT CAST(ts AS DATE) AS day, extract(hour FROM ts) AS hod, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT day, cnt,
         count(*) OVER w AS n_prior,
         avg(cnt) OVER w AS fc
  FROM hourly
  WINDOW w AS (PARTITION BY hod ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT day, CAST(count(*) AS BIGINT) AS n_hours,
       round(avg(abs(cnt - fc) / cnt) + 1e-9, 6) AS mape,
       round(avg((fc - cnt) / cnt) + 1e-9, 6) AS bias
FROM scored WHERE n_prior >= {FORECAST_MIN_PRIOR_DAYS}
GROUP BY day
"""


# ---------------------------------------------------------------------------
# events_markov_anomaly — per-user sequence likelihood under the corpus chain
# ---------------------------------------------------------------------------


def events_markov_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-level anomaly scoring: fit the corpus's first-order
    event-type Markov chain (the `events_transition_matrix`
    probabilities), then score every USER by the mean log2-likelihood
    of their observed transitions under it and z-score across users —
    bots and broken clients follow transition patterns the corpus
    chain assigns low probability, which per-event z-scores
    (`events_anomaly_zscore`) cannot see.

    Scale: transitions come from one per-user lead window (user-
    partitioned — parallel, no global sort); the chain is
    |types|² rows and rides as a broadcast into the scoring join; the
    corpus mean/stddev is a 1-row broadcast. Ties inside a user
    break on event_id so the chain is deterministic in both
    engines."""
    ev = _events_us(spark, sf_dir).select("user_id", "event_type", "ts_us", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    trans = (
        ev.select(
            "user_id",
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
    )
    cnt = trans.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("cur").agg(F.sum("n").alias("t"))
    probs = cnt.join(F.broadcast(tot), "cur").select(
        "cur", "nxt", (F.col("n") / F.col("t")).alias("p")
    )
    per_user = (
        trans.join(F.broadcast(probs), ["cur", "nxt"])
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_trans"), F.avg(F.log2("p")).alias("lp"))
    )
    stats = per_user.agg(
        F.avg("lp").alias("mu"), F.stddev_pop("lp").alias("sd")
    )
    z = F.round((F.col("lp") - F.col("mu")) / F.nullif(F.col("sd"), F.lit(0.0)) + 1e-9, 4)
    return per_user.crossJoin(F.broadcast(stats)).select(
        "user_id",
        "n_trans",
        F.round(F.col("lp") + 1e-9, 6).alias("avg_logp"),
        z.alias("z_score"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


EVENTS_MARKOV_ANOMALY_SQL = """
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events),
tr AS (
  SELECT user_id, event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS nxt
  FROM ev
),
trans AS (SELECT user_id, cur, nxt FROM tr WHERE nxt IS NOT NULL),
cnt AS (SELECT cur, nxt, count(*) AS n FROM trans GROUP BY 1, 2),
tot AS (SELECT cur, sum(n) AS t FROM cnt GROUP BY 1),
probs AS (SELECT cur, nxt, n::DOUBLE / t AS p FROM cnt JOIN tot USING (cur)),
pu AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_trans, avg(log2(p)) AS lp
  FROM trans JOIN probs USING (cur, nxt) GROUP BY 1
),
st AS (SELECT avg(lp) AS mu, stddev_pop(lp) AS sd FROM pu)
SELECT user_id, n_trans,
       round(lp + 1e-9, 6) AS avg_logp,
       round((lp - mu) / nullif(sd, 0) + 1e-9, 4) AS z_score,
       abs(round((lp - mu) / nullif(sd, 0) + 1e-9, 4)) > 2.0 AS is_anomaly
FROM pu CROSS JOIN st
"""


# ---------------------------------------------------------------------------
# events_bitmap_rollup — hour-of-day activity bitmaps per user-day
# ---------------------------------------------------------------------------

# hour masks: bits 6-11 / 18-23 of the 24-bit day bitmap
MORNING_MASK = sum(1 << h for h in range(6, 12))
EVENING_MASK = sum(1 << h for h in range(18, 24))


def events_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity BITMAPS — the bitmap-index idiom OLAP
    engines use for set-valued facts, here collapsing a user-day's
    events to one int64 (bit h set ⟺ active in hour h). Membership,
    cardinality, and daypart questions become bitwise AND + popcount
    — no re-scan of the fact table, and bitmaps OR together
    hierarchically (day → week → month) which is what makes the
    representation a ROLLUP primitive rather than a display trick.

    Scale: one (user, day) groupBy with map-side bit_or combine —
    the shuffle carries 8-byte bitmaps, not event rows; every
    derived column is a codegen'd projection. Output is |user-days|
    rows ≤ |events| at any SF."""
    ev = _events_us(spark, sf_dir).select(
        F.expr(f"ts_us div {DAY_US}").alias("day"),
        F.expr(f"(ts_us % {DAY_US}) div {HOUR_US}").alias("hour"),
        "user_id",
    )
    bm = ev.groupBy("user_id", "day").agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(hour AS INT))")).alias("hour_bitmap")
    )
    return bm.select(
        "user_id",
        "day",
        "hour_bitmap",
        F.bit_count("hour_bitmap").alias("n_active_hours"),
        F.bit_count(F.col("hour_bitmap").bitwiseAND(F.lit(MORNING_MASK))).alias("n_morning"),
        F.bit_count(F.col("hour_bitmap").bitwiseAND(F.lit(EVENING_MASK))).alias("n_evening"),
    )


EVENTS_BITMAP_ROLLUP_SQL = f"""
WITH ev AS (
  SELECT user_id,
         epoch_us(ts) // {DAY_US} AS day,
         (epoch_us(ts) % {DAY_US}) // {HOUR_US} AS hour
  FROM events
),
bm AS (
  SELECT user_id, day, bit_or(1::BIGINT << hour::INTEGER) AS hour_bitmap
  FROM ev GROUP BY 1, 2
)
SELECT user_id, day, hour_bitmap,
       CAST(bit_count(hour_bitmap) AS INTEGER) AS n_active_hours,
       CAST(bit_count(hour_bitmap & {MORNING_MASK}) AS INTEGER) AS n_morning,
       CAST(bit_count(hour_bitmap & {EVENING_MASK}) AS INTEGER) AS n_evening
FROM bm
"""


# ---------------------------------------------------------------------------
# events_dispersion_test — Poisson overdispersion screen per event type
# ---------------------------------------------------------------------------

DISPERSION_THRESHOLD = 1.5


def events_dispersion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is each event type's arrival process Poisson-like or bursty?
    Per type: hourly-count mean, population variance over the FULL
    hour grid (zero hours included — dropping them is the classic
    way to understate variance), and the dispersion index var/mean —
    ≈1 for Poisson arrivals, ≫1 means burst/batch behavior that
    invalidates rate-based alerting thresholds
    (`events_anomaly_zscore` consumers check this first).

    Scale: one (type, hour) map-side-combined count; the hour grid
    explodes from a broadcast 1-row span (|types|·|hours| rows —
    calendar-bounded); one |types|-row aggregate finishes."""
    ev = _events_us(spark, sf_dir).select(
        "event_type", F.expr(f"ts_us div {HOUR_US}").alias("hour")
    )
    counts = ev.groupBy("event_type", "hour").agg(F.count(F.lit(1)).alias("n"))
    span = ev.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(span)).select(
        "event_type", F.explode(F.sequence("h0", "h1")).alias("hour")
    )
    filled = grid.join(counts, ["event_type", "hour"], "left").select(
        "event_type", F.coalesce("n", F.lit(0)).alias("n")
    )
    mean = F.avg("n")
    var = F.var_pop("n")
    idx = F.round(var / F.nullif(mean, F.lit(0.0)) + 1e-9, 4)
    return filled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").alias("n_events"),
        F.round(mean + 1e-9, 4).alias("mean_per_hour"),
        F.round(var + 1e-9, 4).alias("var_per_hour"),
        idx.alias("dispersion_index"),
        (idx > DISPERSION_THRESHOLD).alias("overdispersed"),
    )


EVENTS_DISPERSION_TEST_SQL = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) // {HOUR_US} AS hour FROM events
),
counts AS (SELECT event_type, hour, count(*) AS n FROM ev GROUP BY 1, 2),
span AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM ev),
grid AS (
  SELECT t.event_type, g.h AS hour
  FROM (SELECT DISTINCT event_type FROM ev) t
  CROSS JOIN (SELECT unnest(range(h0, h1 + 1)) AS h FROM span) g
),
filled AS (
  SELECT g.event_type, COALESCE(c.n, 0) AS n
  FROM grid g LEFT JOIN counts c ON c.event_type = g.event_type AND c.hour = g.hour
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       CAST(sum(n) AS BIGINT) AS n_events,
       round(avg(n) + 1e-9, 4) AS mean_per_hour,
       round(var_pop(n) + 1e-9, 4) AS var_per_hour,
       round(var_pop(n) / nullif(avg(n), 0) + 1e-9, 4) AS dispersion_index,
       round(var_pop(n) / nullif(avg(n), 0) + 1e-9, 4) > {DISPERSION_THRESHOLD}
         AS overdispersed
FROM filled GROUP BY 1
"""


# ---------------------------------------------------------------------------
# user_hour_profile_kmeans — behavioral clustering on hour-of-day profiles
# ---------------------------------------------------------------------------

UHP_K = 4
UHP_ITERS = 2
UHP_DIM = 24


def user_hour_profile_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over each user's 24-dim hour-of-day activity
    profile (share of their events per hour) — behavioral
    segmentation (night-owls vs office-hours vs bots) on a feature
    space built INSIDE the engine, and the third proof (after
    embeddings and RFM) that the shared Lloyd machinery is generic
    over any (key, vector) frame. Same contract as
    `kmeans_embeddings`: 6-dp quantization at every boundary,
    lowest-cluster argmin ties, exploded (cluster, dim, cval,
    n_members) output, K·DIM-only driver traffic.

    Scale: the profile build is one (user, hour) count + a
    24-per-user dense fill from a sequence explode (map-side); each
    Lloyd round is the literal-centroid codegen assignment + a
    K·24 partial agg."""
    ev = _events_us(spark, sf_dir).select(
        "user_id", F.expr(f"(ts_us % {DAY_US}) div {HOUR_US}").alias("hour")
    )
    hc = ev.groupBy("user_id", "hour").agg(F.count(F.lit(1)).alias("n"))
    tot = hc.groupBy("user_id").agg(F.sum("n").alias("t"))
    grid = tot.select("user_id", "t", F.explode(F.sequence(F.lit(0), F.lit(UHP_DIM - 1))).alias("hour"))
    vals = grid.join(hc, ["user_id", "hour"], "left").select(
        "user_id",
        "hour",
        F.round(F.coalesce("n", F.lit(0)) / F.col("t") + 1e-9, 6).alias("val"),
    )
    feats = vals.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("hour", "val"))), lambda s: s["val"]
        ).alias("v")
    )
    cents = _init_cents(feats, k=UHP_K, key="user_id")
    for _ in range(UHP_ITERS - 1):
        cents = _lloyd_update(feats, cents)
    return _lloyd_final(feats, cents, key="user_id")


def _user_hour_profile_kmeans_sql() -> str:
    lead = [
        f"""WITH hc AS (
  SELECT user_id, (epoch_us(ts) % {DAY_US}) // {HOUR_US} AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
)""",
        "tot AS (SELECT user_id, sum(n) AS t FROM hc GROUP BY 1)",
        f"grid AS (SELECT tot.user_id, tot.t, r.h AS hour FROM tot CROSS JOIN range(0, {UHP_DIM}) r(h))",
        """vals AS (
  SELECT g.user_id, g.hour, round(COALESCE(hc.n, 0)::DOUBLE / g.t + 1e-9, 6) AS val
  FROM grid g LEFT JOIN hc ON hc.user_id = g.user_id AND hc.hour = g.hour
)""",
        "e AS (SELECT user_id, list(val ORDER BY hour) AS v FROM vals GROUP BY 1)",
    ]
    return _lloyd_sql(lead_parts=lead, k=UHP_K, dim=UHP_DIM, key="user_id", iters=UHP_ITERS)


USER_HOUR_PROFILE_KMEANS_SQL = _user_hour_profile_kmeans_sql()


# ---------------------------------------------------------------------------
# events_anomaly_fdr — multiple-testing-corrected anomaly screen (new r7)
# ---------------------------------------------------------------------------

FDR_ALPHA = 0.05


def events_anomaly_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg-corrected daily anomaly screen: per
    (event_type, day) cell, the z-score of that day's event count
    against the type's own across-days distribution, a two-sided
    normal p-value, and the BH step-up decision at α=0.05 — the fix
    for the eyeball-every-z-score habit that fires a false alarm
    per ~20 cells screened. Every tested cell is emitted with its
    p-value, BH rank, critical value, and the final significance
    flag, so the output IS the full multiple-testing table.

    The normal tail is the Abramowitz–Stegun 26.2.17 polynomial
    (|ε| < 7.5e-8) evaluated identically in both engines; all
    statistics are rounded at 6 dp before the BH comparison so the
    decision threshold sees the same grid on both sides.

    Scale design: events collapse map-side to the |types|×|days|
    cell grid (feature-bounded, NOT corpus-scale) in one partial-agg
    shuffle; the per-type mean/sd, the global rank, and the step-up
    cutoff are all windows over that bounded grid."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    cells = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("n_events"))
    w_type = Window.partitionBy("event_type")
    sd = F.stddev_samp("n_events").over(w_type)
    z = F.round((F.col("n_events") - F.avg("n_events").over(w_type)) / sd + 1e-9, 6)
    tested = (
        cells.withColumn("sd", sd)
        .withColumn("zscore", z)
        .filter(F.col("sd") > 0)
        .drop("sd")
    )
    az = F.abs(F.col("zscore"))
    t = 1.0 / (1.0 + 0.2316419 * az)
    pdf = F.exp(-az * az / 2.0) / math.sqrt(2.0 * math.pi)
    poly = t * (
        0.319381530
        + t * (-0.356563782 + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429)))
    )
    p = F.round(F.least(F.lit(1.0), 2.0 * pdf * poly) + 1e-9, 6)
    w_all = Window.partitionBy()
    w_rank = Window.orderBy("p_value", "event_type", "day")
    ranked = (
        tested.withColumn("p_value", p)
        .withColumn("p_rank", F.row_number().over(w_rank).cast("int"))
        .withColumn("m", F.count(F.lit(1)).over(w_all))
    )
    crit = F.col("p_rank") * FDR_ALPHA / F.col("m")
    k_star = F.max(
        F.when(F.col("p_value") <= crit, F.col("p_rank"))
    ).over(w_all)
    return ranked.select(
        "event_type",
        "day",
        "n_events",
        "zscore",
        "p_value",
        "p_rank",
        F.round(crit + 1e-9, 6).alias("bh_critical"),
        (F.col("p_rank") <= F.coalesce(k_star, F.lit(0))).alias("is_significant"),
    )


EVENTS_ANOMALY_FDR_SQL = f"""
WITH cells AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
tested AS (
  SELECT event_type, day, n_events,
         round((n_events - avg(n_events) OVER w) / stddev_samp(n_events) OVER w + 1e-9, 6) AS zscore
  FROM cells
  WINDOW w AS (PARTITION BY event_type)
  QUALIFY stddev_samp(n_events) OVER w > 0
),
pvals AS (
  SELECT event_type, day, n_events, zscore,
         round(least(1.0,
           2.0 * (exp(-abs(zscore) * abs(zscore) / 2.0) / sqrt(2.0 * pi()))
               * ((1.0 / (1.0 + 0.2316419 * abs(zscore)))
                  * (0.319381530
                     + (1.0 / (1.0 + 0.2316419 * abs(zscore)))
                       * (-0.356563782
                          + (1.0 / (1.0 + 0.2316419 * abs(zscore)))
                            * (1.781477937
                               + (1.0 / (1.0 + 0.2316419 * abs(zscore)))
                                 * (-1.821255978
                                    + (1.0 / (1.0 + 0.2316419 * abs(zscore))) * 1.330274429)))))
         ) + 1e-9, 6) AS p_value
  FROM tested
),
ranked AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY p_value, event_type, day) AS INTEGER) AS p_rank,
         count(*) OVER () AS m
  FROM pvals
)
SELECT event_type, day, n_events, zscore, p_value, p_rank,
       round(p_rank * {FDR_ALPHA} / m + 1e-9, 6) AS bh_critical,
       p_rank <= coalesce(
         max(CASE WHEN p_value <= p_rank * {FDR_ALPHA} / m THEN p_rank END) OVER (), 0
       ) AS is_significant
FROM ranked
"""


# ---------------------------------------------------------------------------
# events_funnel_latency — step-to-step conversion latency (new r7)
# ---------------------------------------------------------------------------


def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert companion to `events_funnel`: for each funnel
    step pair (view→click, click→purchase), the converted-user count
    and the mean / exact median / exact p90 latency in seconds —
    conversion RATE says the funnel works, latency says where users
    stall. Uses the same chained conditional-min windows as
    events_funnel (first view, first click ≥ that view, first
    purchase ≥ that click), so "latency" is first-touch to
    first-qualified-touch.

    Scale note: `percentile` here is the exact sort-based aggregate
    over the per-user latency column (the `events_value_quantiles`
    contract: exact is the audited baseline, `percentile_approx` is
    the 100 TB default, error-bounded in tests/test_sketches.py).
    Everything upstream is ONE per-user shuffle; the output is 2
    rows."""
    per_user = _funnel_steps(spark, sf_dir)
    steps = per_user.select(
        F.lit("view_to_click").alias("step"), (F.col("c") - F.col("v")).alias("lat_us")
    ).unionByName(
        per_user.select(
            F.lit("click_to_purchase").alias("step"), (F.col("p") - F.col("c")).alias("lat_us")
        )
    ).filter(F.col("lat_us").isNotNull())
    return steps.groupBy("step").agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.sum("lat_us") / F.count(F.lit(1)) / 1e6 + 1e-9, 4).alias("mean_s"),
        F.round(F.expr("percentile(lat_us, 0.5)") / 1e6 + 1e-9, 4).alias("median_s"),
        F.round(F.expr("percentile(lat_us, 0.9)") / 1e6 + 1e-9, 4).alias("p90_s"),
    )


EVENTS_FUNNEL_LATENCY_SQL = f"""
{_FUNNEL_STEPS_SQL},
steps AS (
  SELECT 'view_to_click' AS step, c - v AS lat_us FROM per_user WHERE c - v IS NOT NULL
  UNION ALL
  SELECT 'click_to_purchase' AS step, p - c AS lat_us FROM per_user WHERE p - c IS NOT NULL
)
SELECT step,
       CAST(count(*) AS BIGINT) AS n_converted,
       round(CAST(sum(lat_us) AS DOUBLE) / count(*) / 1e6 + 1e-9, 4) AS mean_s,
       round(quantile_cont(lat_us, 0.5) / 1e6 + 1e-9, 4) AS median_s,
       round(quantile_cont(lat_us, 0.9) / 1e6 + 1e-9, 4) AS p90_s
FROM steps GROUP BY 1
"""


# ---------------------------------------------------------------------------
# events_entropy_rate — Markov-chain predictability summary (new r7)
# ---------------------------------------------------------------------------


def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the corpus event stream under the first-order
    Markov model `events_markov_anomaly` scores with: H = −Σ_ij
    (n_ij/N)·log2(n_ij/n_i·) bits per step, against the log2|A|
    uniform ceiling — ONE number for "how predictable is user
    behavior", the model-selection companion to the per-user
    anomaly scorer (an entropy rate near the ceiling means the
    chain explains nothing and anomaly scores are noise).

    Scale design: the lead() window is user-partitioned; counts
    collapse map-side to the ≤|types|² cell frame, and every
    entropy term folds over that bounded frame — output is 1 row at
    any corpus size."""
    ev = _events_us(spark, sf_dir).select("user_id", "event_type", "ts_us", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    cells = seq.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n_ij"))
    w_from = Window.partitionBy("event_type")
    w_all = Window.partitionBy()
    terms = cells.select(
        "next_type",
        (
            -(F.col("n_ij") / F.sum("n_ij").over(w_all))
            * F.log2(F.col("n_ij") / F.sum("n_ij").over(w_from))
        ).alias("term"),
        F.sum("n_ij").over(w_all).alias("n_total"),
    )
    return terms.agg(
        F.max("n_total").alias("n_transitions"),
        F.countDistinct("next_type").alias("n_types"),
        F.round(F.sum("term") + 1e-9, 6).alias("entropy_rate_bits"),
        F.round(F.log2(F.countDistinct("next_type")) + 1e-9, 6).alias("max_bits"),
        F.round(
            F.sum("term") / F.log2(F.countDistinct("next_type")) + 1e-9, 6
        ).alias("entropy_efficiency"),
    )


EVENTS_ENTROPY_RATE_SQL = """
WITH seq AS (
  SELECT event_type, lead(event_type) OVER w AS next_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
cells AS (
  SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n_ij
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
),
terms AS (
  SELECT next_type,
         -(n_ij * 1.0 / sum(n_ij) OVER ())
           * log2(n_ij * 1.0 / sum(n_ij) OVER (PARTITION BY event_type)) AS term,
         sum(n_ij) OVER () AS n_total
  FROM cells
)
SELECT CAST(max(n_total) AS BIGINT) AS n_transitions,
       CAST(count(DISTINCT next_type) AS BIGINT) AS n_types,
       round(sum(term) + 1e-9, 6) AS entropy_rate_bits,
       round(log2(count(DISTINCT next_type)) + 1e-9, 6) AS max_bits,
       round(sum(term) / log2(count(DISTINCT next_type)) + 1e-9, 6) AS entropy_efficiency
FROM terms
"""


# ---------------------------------------------------------------------------
# events_session_gap_audit — the measurement SESSION_GAP_US comes from (r8)
# ---------------------------------------------------------------------------

GAP_BUCKETS = (
    (60_000_000, "0_under_1m"),
    (300_000_000, "1_under_5m"),
    (1_800_000_000, "2_under_30m"),
    (7_200_000_000, "3_under_2h"),
    (86_400_000_000, "4_under_1d"),
)
GAP_OVERFLOW = "5_over_1d"


def _gaps(ev: DataFrame) -> DataFrame:
    """Each user's inter-event gaps ``gap_us`` in (ts_us, event_id)
    order over a (user_id, event_id, ts_us) frame; a user's first
    event has no gap and drops out."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())


def events_session_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where the 30-minute `SESSION_GAP_US` constant comes from: the
    histogram of per-user inter-event gaps. The shipped sessionize
    rule keeps a pair in-session when gap ≤ τ (a boundary only when
    strictly greater — `events_sessionize` and
    `session_gap_threshold_curve` share the convention), so buckets
    close with gap_us <= bound (ADVICE r8: a gap exactly equal to a
    candidate τ must land in the kept side). Each bucket's
    CUMULATIVE share is then exactly "what fraction of event
    adjacencies does τ keep in-session" and its complement counts
    the session boundaries τ would create — the same
    measured-constant pattern as
    `events_watermark_audit` for watermarks: every sessionization in
    this engine (batch `events_sessionize`, the streaming
    session_window twin, the timeout-evicted custom kernel) uses a
    constant someone chose, and this audit is where it comes from.

    Scale design: the lag() is a per-user window (one shuffle on
    user_id, sorts partition-local); the histogram collapses to ~6
    bucket rows map-side, and the cumulative share runs on that
    bounded frame — output is ≤ 6 rows at any corpus size."""
    gaps = _gaps(_events_us(spark, sf_dir).select("user_id", "event_id", "ts_us"))
    bucket = F.when(F.col("gap_us") <= GAP_BUCKETS[0][0], GAP_BUCKETS[0][1])
    for bound, label in GAP_BUCKETS[1:]:
        bucket = bucket.when(F.col("gap_us") <= bound, label)
    bucket = bucket.otherwise(GAP_OVERFLOW)
    hist = gaps.groupBy(bucket.alias("gap_bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.max("gap_us").alias("max_gap_us"),
    )
    total = Window.partitionBy()
    cum = Window.partitionBy().orderBy("gap_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        "gap_bucket",
        "n_gaps",
        "max_gap_us",
        F.round(F.col("n_gaps") / F.sum("n_gaps").over(total) + 1e-9, 6).alias("share"),
        F.round(
            F.sum("n_gaps").over(cum) / F.sum("n_gaps").over(total) + 1e-9, 6
        ).alias("cum_share"),
    )


def _session_gap_oracle() -> str:
    cases = f"WHEN gap_us <= {GAP_BUCKETS[0][0]} THEN '{GAP_BUCKETS[0][1]}'"
    for bound, label in GAP_BUCKETS[1:]:
        cases += f"\n           WHEN gap_us <= {bound} THEN '{label}'"
    return f"""
WITH gaps AS (
  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
),
hist AS (
  SELECT CASE {cases} ELSE '{GAP_OVERFLOW}' END AS gap_bucket,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(max(gap_us) AS BIGINT) AS max_gap_us
  FROM gaps WHERE gap_us IS NOT NULL
  GROUP BY 1
)
SELECT gap_bucket, n_gaps, max_gap_us,
       round(n_gaps * 1.0 / sum(n_gaps) OVER () + 1e-9, 6) AS share,
       round(sum(n_gaps) OVER (ORDER BY gap_bucket
                               ROWS UNBOUNDED PRECEDING) * 1.0
             / sum(n_gaps) OVER () + 1e-9, 6) AS cum_share
FROM hist
"""


EVENTS_SESSION_GAP_AUDIT_SQL = _session_gap_oracle()


# ---------------------------------------------------------------------------
# events_session_stats — what the 30-minute gap constant produces (r8)
# ---------------------------------------------------------------------------

SESSION_DUR_BUCKETS = (
    (300_000_000, "1_under_5m"),
    (1_800_000_000, "2_under_30m"),
    (7_200_000_000, "3_under_2h"),
)
SESSION_DUR_OVERFLOW = "4_over_2h"
SESSION_SINGLE_BUCKET = "0_single_event"


def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The downstream face of the session-gap choice: the population
    of sessions the 30-minute `SESSION_GAP_US` rule actually
    produces, as a bounded duration histogram (single-event sessions
    split out — duration 0 says nothing about engagement length)
    with per-bucket session counts, shares, mean events-per-session
    and mean/max duration. `events_session_gap_audit` is the input
    side (which adjacencies does τ cut); this is the output side
    (what the cut yields) — together they close the loop on the one
    constant every sessionization in the engine shares. A fat
    over-2h tail or a single-event majority is the classic signal
    the gap is mis-sized for the traffic.

    Scale design: identical session assembly to `events_sessionize`
    (per-user windows — one shuffle on user_id, sorts
    partition-local; the (user, session) aggregate reuses the same
    key prefix); the histogram then collapses map-side to ≤ 5
    bucket rows, and shares run on that bounded frame."""
    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "ts_us")
    sessions = (
        _sessions(ev)
        .groupBy("user_id", "session_idx")
        .agg(
            (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    bucket = F.when(F.col("n_events") == 1, SESSION_SINGLE_BUCKET)
    for bound, label in SESSION_DUR_BUCKETS:
        bucket = bucket.when(F.col("duration_us") < bound, label)
    bucket = bucket.otherwise(SESSION_DUR_OVERFLOW)
    hist = sessions.groupBy(bucket.alias("dur_bucket")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(F.avg("n_events") + 1e-9, 4).alias("avg_events"),
        F.round(F.avg("duration_us") + 1e-9, 4).alias("avg_duration_us"),
        F.max("duration_us").alias("max_duration_us"),
    )
    total = Window.partitionBy()
    return hist.select(
        "dur_bucket",
        "n_sessions",
        F.round(F.col("n_sessions") / F.sum("n_sessions").over(total) + 1e-9, 6).alias(
            "share"
        ),
        "avg_events",
        "avg_duration_us",
        "max_duration_us",
    )


def _session_stats_oracle() -> str:
    cases = f"WHEN n_events = 1 THEN '{SESSION_SINGLE_BUCKET}'"
    for bound, label in SESSION_DUR_BUCKETS:
        cases += f"\n           WHEN duration_us < {bound} THEN '{label}'"
    return f"""
{_sessions_sql()},
per_session AS (
  SELECT user_id, session_idx,
         max(ts_us) - min(ts_us) AS duration_us,
         count(*) AS n_events
  FROM sessions GROUP BY 1, 2
),
hist AS (
  SELECT CASE {cases} ELSE '{SESSION_DUR_OVERFLOW}' END AS dur_bucket,
         CAST(count(*) AS BIGINT) AS n_sessions,
         round(avg(n_events) + 1e-9, 4) AS avg_events,
         round(avg(duration_us) + 1e-9, 4) AS avg_duration_us,
         CAST(max(duration_us) AS BIGINT) AS max_duration_us
  FROM per_session
  GROUP BY 1
)
SELECT dur_bucket, n_sessions,
       round(n_sessions * 1.0 / sum(n_sessions) OVER () + 1e-9, 6) AS share,
       avg_events, avg_duration_us, max_duration_us
FROM hist
"""


EVENTS_SESSION_STATS_SQL = _session_stats_oracle()


# ---------------------------------------------------------------------------
# session_gap_threshold_curve — session yield per candidate gap constant
# ---------------------------------------------------------------------------

SESSION_GAP_CANDIDATES_MIN = (5, 15, 30, 60, 120)  # 30 = shipped constant


def session_gap_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third leg of the session-gap tuning tripod: for each
    candidate gap τ, the session population it would yield —
    session count, mean events per session, and mean in-session
    duration. `events_session_gap_audit` shows the gap HISTOGRAM
    (what adjacencies exist), `events_session_stats` shows the
    shipped 30-minute cut's output; this sweeps the CONSTANT so the
    elbow is read directly off one table (halving τ from 30 to 15
    minutes costs X% more sessions and Y% shorter ones) before
    anyone re-runs every sessionization at 100 TB to find out.
    Sessions(τ) = users + boundaries(τ) needs no per-τ re-assembly:
    a boundary is exactly a gap > τ, and in-session time is exactly
    the gaps ≤ τ, so the whole sweep folds over the one lag frame.

    Scale design: ONE per-user lag window (the same single user_id
    shuffle every session op pays), a map-side ×|candidates| fan
    that partially aggregates to |candidates| rows per partition,
    and the 1-row (n_users, n_events) totals riding as the only
    broadcast. Face is |candidates| rows."""
    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "ts_us")
    gaps = _gaps(ev)
    entries = []
    for m in SESSION_GAP_CANDIDATES_MIN:
        tau = m * 60_000_000
        entries.append(
            F.struct(
                F.lit(m).cast("int").alias("gap_min"),
                (F.col("gap_us") > tau).cast("long").alias("boundary"),
                F.when(F.col("gap_us") <= tau, F.col("gap_us"))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("in_session_us"),
            )
        )
    fanned = (
        gaps.select(F.explode(F.array(*entries)).alias("r"))
        .select("r.*")
        .groupBy("gap_min")
        .agg(
            F.sum("boundary").alias("n_boundaries"),
            F.sum("in_session_us").alias("sum_in_session_us"),
        )
    )
    totals = ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    n_sessions = F.col("n_users") + F.col("n_boundaries")
    return fanned.crossJoin(F.broadcast(totals)).select(
        "gap_min",
        n_sessions.alias("n_sessions"),
        F.round(F.col("n_events") / n_sessions + 1e-9, 6).alias("mean_events_per_session"),
        F.round(
            F.col("sum_in_session_us") / n_sessions / 1e6 + 1e-9, 6
        ).alias("mean_session_duration_s"),
    )


def _session_threshold_sql() -> str:
    arms = " UNION ALL ".join(
        f"SELECT {m} AS gap_min, "
        f"CASE WHEN gap_us > {m * 60_000_000} THEN 1 ELSE 0 END AS boundary, "
        f"CASE WHEN gap_us <= {m * 60_000_000} THEN gap_us ELSE 0 END AS in_session_us "
        "FROM gaps"
        for m in SESSION_GAP_CANDIDATES_MIN
    )
    return f"""
WITH gaps AS (
  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
  QUALIFY gap_us IS NOT NULL
),
fanned AS (
  SELECT gap_min, CAST(sum(boundary) AS BIGINT) AS n_boundaries,
         CAST(sum(in_session_us) AS BIGINT) AS sum_in_session_us
  FROM ({arms}) GROUP BY 1
),
totals AS (
  SELECT count(DISTINCT user_id) AS n_users, count(*) AS n_events FROM events
)
SELECT gap_min,
       CAST(n_users + n_boundaries AS BIGINT) AS n_sessions,
       round(n_events * 1.0 / (n_users + n_boundaries) + 1e-9, 6) AS mean_events_per_session,
       round(sum_in_session_us * 1.0 / (n_users + n_boundaries) / 1e6 + 1e-9, 6)
         AS mean_session_duration_s
FROM fanned CROSS JOIN totals
"""


SESSION_GAP_THRESHOLD_CURVE_SQL = _session_threshold_sql()


# ---------------------------------------------------------------------------
# events_dau_mau_stickiness — DAU / trailing-28-day MAU per day (r8)
# ---------------------------------------------------------------------------

MAU_WINDOW_DAYS = 28


def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DAU, trailing-28-day MAU, and the DAU/MAU stickiness
    ratio — the engagement-health number product analytics reads
    first. Exact distinct-users over a SLIDING window is not
    window-aggregatable (distinct does not decompose), so the scale
    shape is the standard contribution fan-out: collapse the feed to
    distinct (user, day) pairs first (the only data-scale shuffle —
    at 100 TB this is the |users|×|days| frame, orders of magnitude
    smaller than events), then explode each user-day into the ≤ 28
    later grid days it contributes to (map-side sequence fan-out)
    and countDistinct per grid day. Days before the feed's 28th have
    a partial trailing window — reported as-is (warm-up rows),
    exactly like the oracle.

    Scale design: fan-out happens AFTER the distinct collapse
    (28 × |user-days| rows, not 28 × |events|); the final aggregate
    carries (grid_day, user_id) pairs; output is |days| rows."""
    user_days = _user_days(spark, sf_dir)
    dau = user_days.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    contrib = user_days.select(
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(MAU_WINDOW_DAYS - 1))
        ).alias("grid_day"),
        "user_id",
        "day",
    )
    # a user-day only contributes to grid days that actually have
    # traffic (the day grid), so join the fan-out back to real days
    mau = (
        contrib.join(dau.select(F.col("day").alias("grid_day")), "grid_day")
        .groupBy("grid_day")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        dau.join(mau, dau.day == mau.grid_day)
        .select(
            "day",
            "dau",
            "mau",
            F.round(F.col("dau") / F.col("mau") + 1e-9, 6).alias("stickiness"),
        )
    )


EVENTS_DAU_MAU_SQL = f"""
WITH ev AS (
  SELECT DISTINCT epoch_us(ts) // {DAY_US} AS day, user_id FROM events
),
dau AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau FROM ev GROUP BY 1
),
mau AS (
  SELECT d.day AS grid_day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS mau
  FROM dau d
  JOIN ev e ON e.day BETWEEN d.day - {MAU_WINDOW_DAYS - 1} AND d.day
  GROUP BY 1
)
SELECT dau.day AS day, dau.dau AS dau, mau.mau AS mau,
       round(dau.dau * 1.0 / mau.mau + 1e-9, 6) AS stickiness
FROM dau JOIN mau ON dau.day = mau.grid_day
"""


QUERIES = {
    "events_markov_anomaly": (events_markov_anomaly, EVENTS_MARKOV_ANOMALY_SQL),
    "events_anomaly_fdr": (events_anomaly_fdr, EVENTS_ANOMALY_FDR_SQL),
    "events_funnel_latency": (events_funnel_latency, EVENTS_FUNNEL_LATENCY_SQL),
    "events_entropy_rate": (events_entropy_rate, EVENTS_ENTROPY_RATE_SQL),
    "events_session_gap_audit": (events_session_gap_audit, EVENTS_SESSION_GAP_AUDIT_SQL),
    "events_session_stats": (events_session_stats, EVENTS_SESSION_STATS_SQL),
    "events_dau_mau_stickiness": (events_dau_mau_stickiness, EVENTS_DAU_MAU_SQL),
    "events_dispersion_test": (events_dispersion_test, EVENTS_DISPERSION_TEST_SQL),
    "user_hour_profile_kmeans": (user_hour_profile_kmeans, USER_HOUR_PROFILE_KMEANS_SQL),
    "events_bitmap_rollup": (events_bitmap_rollup, EVENTS_BITMAP_ROLLUP_SQL),
    "events_tumbling_agg": (events_tumbling_agg, EVENTS_TUMBLING_AGG_SQL),
    "events_trailing_1h": (events_trailing_1h, EVENTS_TRAILING_1H_SQL),
    "events_forecast_backtest": (events_forecast_backtest, EVENTS_FORECAST_BACKTEST_SQL),
    "events_type_user_overlap": (events_type_user_overlap, EVENTS_TYPE_USER_OVERLAP_SQL),
    "events_hll_merge_daily": (events_hll_merge_daily, EVENTS_HLL_MERGE_DAILY_SQL),
    "events_incremental_refresh": (events_incremental_refresh, EVENTS_INCREMENTAL_REFRESH_SQL),
    "events_session_paths": (events_session_paths, EVENTS_SESSION_PATHS_SQL),
    "events_value_winsorize": (events_value_winsorize, EVENTS_VALUE_WINSORIZE_SQL),
    "events_ab_test": (events_ab_test, EVENTS_AB_TEST_SQL),
    "user_ctr_wilson": (user_ctr_wilson, USER_CTR_WILSON_SQL),
    "events_attribution_time_decay": (events_attribution_time_decay, EVENTS_ATTRIBUTION_TIME_DECAY_SQL),
    "events_next_event_eval": (events_next_event_eval, EVENTS_NEXT_EVENT_EVAL_SQL),
    "user_aging_curve": (user_aging_curve, USER_AGING_CURVE_SQL),
    "attribution_lag_cdf": (attribution_lag_cdf, ATTRIBUTION_LAG_CDF_SQL),
    "events_hour_dow_heatmap": (events_hour_dow_heatmap, EVENTS_HOUR_DOW_HEATMAP_SQL),
    "events_type_anova": (events_type_anova, EVENTS_TYPE_ANOVA_SQL),
    "events_sessionize": (events_sessionize, EVENTS_SESSIONIZE_SQL),
    "events_asof_join": (events_asof_join, EVENTS_ASOF_JOIN_SQL),
    "events_json_extract": (events_json_extract, EVENTS_JSON_EXTRACT_SQL),
    "events_skew_join_salted": (events_skew_join_salted, EVENTS_SKEW_JOIN_SALTED_SQL),
    "events_user_mad": (events_user_mad, EVENTS_USER_MAD_SQL),
    "events_top_k_per_window": (events_top_k_per_window, EVENTS_TOP_K_SQL),
    "events_range_join_binned": (events_range_join_binned, EVENTS_RANGE_JOIN_SQL),
    "events_multi_rollup": (events_multi_rollup, EVENTS_MULTI_ROLLUP_SQL),
    "events_funnel": (events_funnel, EVENTS_FUNNEL_SQL),
    "orders_cohort_retention": (orders_cohort_retention, ORDERS_COHORT_SQL),
    "events_value_quantiles": (events_value_quantiles, EVENTS_VALUE_QUANTILES_SQL),
    "events_hopping_agg": (events_hopping_agg, EVENTS_HOPPING_AGG_SQL),
    "events_user_count_hll": (events_user_count_hll, None),
    "events_user_count_hll_error": (events_user_count_hll_error, EVENTS_USER_COUNT_HLL_ERROR_SQL),
    "events_rolling_avg": (events_rolling_avg, EVENTS_ROLLING_AVG_SQL),
    "events_value_quantiles_sketch": (events_value_quantiles_sketch, None),
    "events_value_quantiles_sketch_error": (
        events_value_quantiles_sketch_error,
        EVENTS_VALUE_QUANTILES_SKETCH_ERROR_SQL,
    ),
    "events_cube": (events_cube, EVENTS_CUBE_SQL),
    "user_value_deciles": (user_value_deciles, USER_VALUE_DECILES_SQL),
    "events_latest_snapshot": (events_latest_snapshot, EVENTS_LATEST_SNAPSHOT_SQL),
    "events_gap_fill": (events_gap_fill, EVENTS_GAP_FILL_SQL),
    "orders_percent_rank": (orders_percent_rank, ORDERS_PERCENT_RANK_SQL),
    "events_user_entropy": (events_user_entropy, EVENTS_USER_ENTROPY_SQL),
    "events_transition_matrix": (events_transition_matrix, EVENTS_TRANSITION_MATRIX_SQL),
    "events_anomaly_zscore": (events_anomaly_zscore, EVENTS_ANOMALY_ZSCORE_SQL),
    "events_column_profile": (events_column_profile, EVENTS_COLUMN_PROFILE_SQL),
    "events_watermark_audit": (events_watermark_audit, EVENTS_WATERMARK_AUDIT_SQL),
    "watermark_delay_curve": (watermark_delay_curve, WATERMARK_DELAY_CURVE_SQL),
    "events_drift_psi": (events_drift_psi, EVENTS_DRIFT_PSI_SQL),
    "events_scd_join": (events_scd_join, EVENTS_SCD_JOIN_SQL),
    "events_active_users": (events_active_users, EVENTS_ACTIVE_USERS_SQL),
    "events_retention_curve": (events_retention_curve, EVENTS_RETENTION_CURVE_SQL),
    "events_peak_detection": (events_peak_detection, EVENTS_PEAK_DETECTION_SQL),
    "events_ewma": (events_ewma, EVENTS_EWMA_SQL),
    "events_ohlc": (events_ohlc, EVENTS_OHLC_SQL),
    "user_event_features": (user_event_features, USER_EVENT_FEATURES_SQL),
    "events_attribution": (events_attribution, EVENTS_ATTRIBUTION_SQL),
    "events_heavy_hitters_cms": (events_heavy_hitters_cms, EVENTS_HEAVY_HITTERS_CMS_SQL),
    "cms_width_error_curve": (cms_width_error_curve, CMS_WIDTH_ERROR_CURVE_SQL),
    "session_gap_threshold_curve": (
        session_gap_threshold_curve,
        SESSION_GAP_THRESHOLD_CURVE_SQL,
    ),
    "events_user_count_hll_manual": (events_user_count_hll_manual, EVENTS_HLL_MANUAL_SQL),
}
