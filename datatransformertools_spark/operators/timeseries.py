"""Time-series diagnostics over the events stream.

Statistical process-control and series-structure operators a
monitoring pipeline runs over windowed aggregates:

- ``events_autocorr`` — lag-1..3 Pearson autocorrelation of the
  hourly count series per event type. The series collapses
  map-side to |types|·|hours| rows before any window work.
- ``events_cusum`` — one-sided CUSUM change detection. The
  textbook recursion S_t = max(0, S_{t-1} + dev_t) is not a
  window frame — but it IS expressible as
  ``cumsum(dev) - running_min(cumsum(dev))`` (the reflected
  running-sum identity), so the whole detector is two ordered
  window passes over the tiny aggregate frame: no recursion, no
  UDF, no driver loop.
- ``user_value_gini`` — Gini concentration of per-user value
  totals per event type, via the rank-weighted closed form
  G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n. Totals are 6-dp-quantized
  before ranking so the rank order (and therefore the hash) is
  identical cross-engine despite float summation order.

All three aggregate before they window: the expensive exchange is
the initial keyed reduction, and every window pass runs over
frames proportional to |keys|, not |events| — the shape that holds
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datatransformertools_spark.operators.events import HOUR_US, _events_us
from datatransformertools_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# events_autocorr
# ---------------------------------------------------------------------------

MAX_LAG = 3


def _hourly(spark: SparkSession, sf_dir: str, x: Column) -> DataFrame:
    """The aggregate ``x`` per (hour_us, event_type): the Spark side of
    ``_hourly_sql``, and the one keyed reduction every series operator
    here windows over."""
    return (
        _events_us(spark, sf_dir)
        .groupBy((F.expr(f"ts_us div {HOUR_US}") * HOUR_US).alias("hour_us"), "event_type")
        .agg(x.alias("x"))
    )


def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly(spark, sf_dir, F.count(F.lit(1)).cast("double"))
    order = Window.partitionBy("event_type").orderBy("hour_us")
    lagged = hourly.select(
        "event_type",
        "x",
        *[F.lag("x", k).over(order).alias(f"lag{k}") for k in range(1, MAX_LAG + 1)],
    )
    pairs = lagged.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("lag"), F.col("x").alias("x"), F.col(f"lag{k}").alias("y"))
                    for k in range(1, MAX_LAG + 1)
                ]
            )
        ).alias("p"),
    ).select("event_type", "p.lag", "p.x", "p.y")
    return (
        pairs.filter(F.col("y").isNotNull())
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("x", "y") + 1e-9, 6).alias("autocorr"),
        )
    )


def _hourly_sql(x: str) -> str:
    """The ``hourly`` CTE of the DuckDB twins: the aggregate ``x`` per
    (hour, event type), as each batch builder groups ``ts_us div HOUR_US``."""
    return f"""hourly AS (
  SELECT (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS hour_us,
         event_type,
         {x} AS x
  FROM events
  GROUP BY 1, 2
)"""


EVENTS_AUTOCORR_SQL = f"""
WITH {_hourly_sql('count(*)::DOUBLE')},
lagged AS (
  SELECT event_type, x,
         lag(x, 1) OVER w AS lag1,
         lag(x, 2) OVER w AS lag2,
         lag(x, 3) OVER w AS lag3
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_us)
),
pairs AS (
  SELECT event_type, 1 AS lag, x, lag1 AS y FROM lagged
  UNION ALL
  SELECT event_type, 2 AS lag, x, lag2 AS y FROM lagged
  UNION ALL
  SELECT event_type, 3 AS lag, x, lag3 AS y FROM lagged
)
SELECT event_type, lag,
       count(*) AS n_pairs,
       round(corr(x, y) + 1e-9, 6) AS autocorr
FROM pairs
WHERE y IS NOT NULL
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# events_cusum
# ---------------------------------------------------------------------------

CUSUM_SLACK = 0.5  # k, in units of σ
CUSUM_H = 4.0  # alarm threshold, in units of σ


def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided (upper) CUSUM over the hourly mean value per event
    type. dev_t = x_t − μ − k·σ; S_t = max(0, S_{t-1} + dev_t)
    rewritten shuffle-free as cumsum − running_min(cumsum). μ, σ
    come from an unordered partition window over the same tiny
    aggregate frame (deterministic: the window sorts the partition
    into one task). Alarm when S_t > h·σ.

    Both cumsum and running-min accumulate in the same
    (hour asc) order in each engine, so even float results agree;
    output is 4-dp-quantized like the other value aggregates.
    """
    hourly = _hourly(spark, sf_dir, F.round(F.avg("value") + 1e-9, 6))
    part = Window.partitionBy("event_type")
    mu = F.avg("x").over(part)
    sigma = F.stddev_samp("x").over(part)
    dev = F.col("x") - F.col("mu") - CUSUM_SLACK * F.col("sigma")
    run = (
        Window.partitionBy("event_type")
        .orderBy("hour_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = (
        hourly.withColumn("mu", mu)
        .withColumn("sigma", sigma)
        .withColumn("cums", F.sum(dev).over(run))
    )
    cusum = F.col("cums") - F.least(F.min("cums").over(run), F.lit(0.0))
    return staged.select(
        "event_type",
        "hour_us",
        "x",
        F.round(cusum + 1e-9, 4).alias("cusum"),
        (cusum > CUSUM_H * F.col("sigma")).cast("int").alias("alarm"),
    )


EVENTS_CUSUM_SQL = f"""
WITH {_hourly_sql('round(avg(value) + 1e-9, 6)')},
stats AS (
  SELECT event_type, hour_us, x,
         avg(x)         OVER (PARTITION BY event_type) AS mu,
         stddev_samp(x) OVER (PARTITION BY event_type) AS sigma
  FROM hourly
),
cum AS (
  SELECT *,
         sum(x - mu - {CUSUM_SLACK} * sigma) OVER w AS cums
  FROM stats
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, hour_us, x,
       round(cums - least(min(cums) OVER w, 0.0) + 1e-9, 4) AS cusum,
       CASE WHEN cums - least(min(cums) OVER w, 0.0) > {CUSUM_H} * sigma
            THEN 1 ELSE 0 END AS alarm
FROM cum
WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# user_value_gini
# ---------------------------------------------------------------------------


def user_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir)
    totals = (
        ev.groupBy("event_type", "user_id")
        .agg(F.round(F.sum("value") + 1e-9, 6).alias("x"))
    )
    rank = Window.partitionBy("event_type").orderBy(F.col("x").asc(), F.col("user_id").asc())
    ranked = totals.withColumn("i", F.row_number().over(rank))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.sum("x") + 1e-9, 4).alias("total_value"),
            F.round(
                2.0 * F.sum(F.col("i") * F.col("x")) / (F.count(F.lit(1)) * F.sum("x"))
                - (F.count(F.lit(1)) + 1) / F.count(F.lit(1))
                + 1e-9,
                6,
            ).alias("gini"),
        )
    )


USER_VALUE_GINI_SQL = """
WITH totals AS (
  SELECT event_type, user_id, round(sum(value) + 1e-9, 6) AS x
  FROM events
  GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY x ASC, user_id ASC) AS i
  FROM totals
)
SELECT event_type,
       count(*) AS n_users,
       round(sum(x) + 1e-9, 4) AS total_value,
       round(2.0 * sum(i * x) / (count(*) * sum(x))
             - (count(*) + 1)::DOUBLE / count(*) + 1e-9, 6) AS gini
FROM ranked
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# events_burstiness
# ---------------------------------------------------------------------------


def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness B = (σ−μ)/(σ+μ) of each user's
    inter-event gaps: −1 = metronome, 0 = Poisson, →1 = bursty.
    One user-keyed shuffle, a lag window inside each user's
    ordered history, map-side re-aggregation to one row per user.
    Gaps convert µs→seconds BEFORE the moments: at 5e10-µs
    magnitudes the two engines' stddev accumulators disagree in the
    4th decimal (1e-15 relative — exactly the rounding quantum);
    at seconds magnitude the error sits 5 orders below it. Users
    need ≥ 2 gaps for a sample σ."""
    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "ts_us")
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = (F.col("ts_us") - F.lag("ts_us").over(order)) / 1000000.0
    gaps = ev.withColumn("gap_s", gap).filter(F.col("gap_s").isNotNull())
    mu = F.avg("gap_s")
    sigma = F.stddev_samp("gap_s")
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(mu + 1e-9, 4).alias("mean_gap_s"),
            F.round(sigma + 1e-9, 4).alias("std_gap_s"),
            F.round((sigma - mu) / (sigma + mu) + 1e-9, 6).alias("burstiness"),
        )
        .filter(F.col("n_gaps") >= 2)
    )


EVENTS_BURSTINESS_SQL = """
WITH gaps AS (
  SELECT user_id,
         (ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)) / 1000000.0 AS gap_s
  FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events)
)
SELECT user_id,
       count(*) AS n_gaps,
       round(avg(gap_s) + 1e-9, 4) AS mean_gap_s,
       round(stddev_samp(gap_s) + 1e-9, 4) AS std_gap_s,
       round((stddev_samp(gap_s) - avg(gap_s))
             / (stddev_samp(gap_s) + avg(gap_s)) + 1e-9, 6) AS burstiness
FROM gaps
WHERE gap_s IS NOT NULL
GROUP BY 1
HAVING count(*) >= 2
"""


# ---------------------------------------------------------------------------
# events_holt_forecast — Holt linear-trend smoothing via an array fold
# ---------------------------------------------------------------------------

HOLT_ALPHA = 0.3
HOLT_BETA = 0.1
HOLT_HORIZON = 6


def _hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event type's hourly count series gathered into one array
    ``s`` of (hour_us, x) structs, in hour order."""
    hourly = _hourly(spark, sf_dir, F.count(F.lit(1)).cast("double"))
    return hourly.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("hour_us", "x"))).alias("s")
    )


def _forecast(fitted: DataFrame, *tail: Column) -> DataFrame:
    """The h = 1..HOLT_HORIZON forecast face of a fitted (event_type,
    last_hour_us, st) frame: forecast hour, level and trend, then the
    ``tail`` columns, which may read ``h`` and ``last_hour_us``."""
    return fitted.select(
        "event_type",
        F.explode(F.array(*[F.lit(h) for h in range(1, HOLT_HORIZON + 1)])).alias("h"),
        "last_hour_us",
        "st",
    ).select(
        "event_type",
        "h",
        (F.col("last_hour_us") + F.col("h").cast("long") * F.lit(HOUR_US)).alias(
            "forecast_hour_us"
        ),
        F.round(F.col("st.l") + 1e-9, 6).alias("level"),
        F.round(F.col("st.b") + 1e-9, 6).alias("trend"),
        *tail,
    )


def _forecast_sql(*tail: str) -> str:
    """DuckDB twin of ``_forecast``: the ``grid`` CTE and the face
    select over ``fitted``, with ``tail`` as its last columns."""
    cols = "".join(f",\n       {t}" for t in tail)
    return f"""grid AS (SELECT CAST(unnest(range(1, {HOLT_HORIZON} + 1)) AS INTEGER) AS h)
SELECT event_type, h,
       CAST(last_hour_us + h * {HOUR_US} AS BIGINT) AS forecast_hour_us,
       round(st[1] + 1e-9, 6) AS level,
       round(st[2] + 1e-9, 6) AS trend{cols}
FROM fitted CROSS JOIN grid
"""


def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential (linear-trend) smoothing of the
    hourly count series per event type, with h-step-ahead forecasts
    for h = 1..HOLT_HORIZON (Holt 1957 — the capacity-planning
    forecast one tier up from `events_ewma`'s level-only smoothing).

    The textbook recursion (l_t, b_t from l_{t-1}, b_{t-1}) is
    sequential by nature — but per KEY, not per engine: each type's
    hourly series collapses map-side to |hours| rows, gathers into
    one ordered array, and the recursion runs as a single
    `F.aggregate` fold INSIDE the row — pure codegen'd expression,
    no driver loop, no UDF, no window recursion. Series length is
    bounded by the time range (a constant of the query), never by
    event count, so the fold costs O(|hours|) per type at any
    corpus size. Both engines execute the identical operation
    sequence on IEEE doubles (fold order is the series order), so
    the state is bit-stable cross-engine; outputs round at 6 dp."""
    series = _hourly_series(spark, sf_dir).select(
        "event_type",
        F.transform("s", lambda e: e["x"]).alias("vals"),
        F.element_at("s", -1)["hour_us"].alias("last_hour_us"),
    )
    a, b = HOLT_ALPHA, HOLT_BETA
    state0 = F.struct(
        F.element_at("vals", 1).alias("l"), F.lit(0.0).alias("b")
    )

    def step(acc, x):
        lnew = F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["b"])
        bnew = F.lit(b) * (lnew - acc["l"]) + F.lit(1 - b) * acc["b"]
        return F.struct(lnew.alias("l"), bnew.alias("b"))

    fitted = series.withColumn(
        "st", F.aggregate(F.expr("slice(vals, 2, greatest(size(vals) - 1, 0))"), state0, step)
    )
    return _forecast(
        fitted,
        F.round(F.col("st.l") + F.col("h") * F.col("st.b") + 1e-9, 6).alias("forecast"),
    )


def _holt_sql() -> str:
    a, b = HOLT_ALPHA, HOLT_BETA
    lnew = f"{a} * x[1] + {1 - a} * (acc[1] + acc[2])"
    return f"""
WITH {_hourly_sql('count(*)::DOUBLE')},
series AS (
  SELECT event_type,
         list(x ORDER BY hour_us) AS vals,
         max(hour_us) AS last_hour_us
  FROM hourly GROUP BY 1
),
fitted AS (
  SELECT event_type, last_hour_us,
         list_reduce(
           list_prepend([vals[1], 0.0], list_transform(vals[2:], v -> [v])),
           (acc, x) -> [
             {lnew},
             {b} * (({lnew}) - acc[1]) + {1 - b} * acc[2]
           ]
         ) AS st
  FROM series
),
{_forecast_sql('round(st[1] + h * st[2] + 1e-9, 6) AS forecast')}"""


EVENTS_HOLT_FORECAST_SQL = _holt_sql()


# ---------------------------------------------------------------------------
# events_holt_winters — additive seasonal smoothing, same fold pattern
# ---------------------------------------------------------------------------

HW_GAMMA = 0.2
HW_SEASON = 24  # hour-of-day additive season


def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (Winters 1960): level + trend + an
    HW_SEASON-slot hour-of-day seasonal component per event type,
    with h-step forecasts. Same architecture as
    `events_holt_forecast` — the sequential recursion runs as ONE
    `F.aggregate` fold over the type's ordered hourly array inside
    the row — with the seasonal state carried as an array in the
    fold's struct accumulator and updated one slot per step.
    Seasonal slots index by actual hour-of-day (carried with each
    observation), not sequence position, so gaps in the series
    don't shift the season. Forecast h = l + h·b + S[hod(last+h)].
    Fold order is the series order in both engines → bit-stable."""
    series = _hourly_series(spark, sf_dir).select(
        "event_type",
        F.transform(
            "s",
            lambda e: F.struct(
                e["x"].alias("x"),
                ((e["hour_us"] / HOUR_US) % HW_SEASON).cast("int").alias("hod"),
            ),
        ).alias("obs"),
        F.element_at("s", -1)["hour_us"].alias("last_hour_us"),
    )
    a, b, g = HOLT_ALPHA, HOLT_BETA, HW_GAMMA
    state0 = F.struct(
        F.element_at("obs", 1)["x"].alias("l"),
        F.lit(0.0).alias("b"),
        F.array_repeat(F.lit(0.0), HW_SEASON).alias("s"),
    )

    def step(acc, e):
        x, hod = e["x"], e["hod"]
        sold = F.element_at(acc["s"], hod + 1)
        lnew = F.lit(a) * (x - sold) + F.lit(1 - a) * (acc["l"] + acc["b"])
        bnew = F.lit(b) * (lnew - acc["l"]) + F.lit(1 - b) * acc["b"]
        snew = F.lit(g) * (x - lnew) + F.lit(1 - g) * sold
        supd = F.transform(acc["s"], lambda s, i: F.when(i == hod, snew).otherwise(s))
        return F.struct(lnew.alias("l"), bnew.alias("b"), supd.alias("s"))

    fitted = series.withColumn(
        "st", F.aggregate(F.expr("slice(obs, 2, greatest(size(obs) - 1, 0))"), state0, step)
    )
    hod_f = ((F.col("last_hour_us") / HOUR_US).cast("long") + F.col("h")) % HW_SEASON
    return _forecast(
        fitted,
        F.round(F.element_at(F.col("st.s"), (hod_f + 1).cast("int")) + 1e-9, 6).alias("season"),
        F.round(
            F.col("st.l")
            + F.col("h") * F.col("st.b")
            + F.element_at(F.col("st.s"), (hod_f + 1).cast("int"))
            + 1e-9,
            6,
        ).alias("forecast"),
    )


def _hw_sql() -> str:
    a, b, g = HOLT_ALPHA, HOLT_BETA, HW_GAMMA
    m = HW_SEASON
    # state = [l, b, S1..Sm]; obs element = [x, hod]
    sold = "acc[3 + CAST(x[2] AS BIGINT)]"
    lnew = f"{a} * (x[1] - {sold}) + {1 - a} * (acc[1] + acc[2])"
    bnew = f"{b} * (({lnew}) - acc[1]) + {1 - b} * acc[2]"
    snew = f"{g} * (x[1] - ({lnew})) + {1 - g} * {sold}"
    season = f"st[3 + ((last_hour_us // {HOUR_US}) + h) % {m}]"
    face = _forecast_sql(
        f"round({season} + 1e-9, 6) AS season",
        f"round(st[1] + h * st[2] + {season} + 1e-9, 6)\n         AS forecast",
    )
    return f"""
WITH {_hourly_sql('count(*)::DOUBLE')},
series AS (
  SELECT event_type,
         list([x, ((hour_us // {HOUR_US}) % {m})::DOUBLE] ORDER BY hour_us) AS obs,
         list(x ORDER BY hour_us) AS vals,
         max(hour_us) AS last_hour_us
  FROM hourly GROUP BY 1
),
fitted AS (
  SELECT event_type, last_hour_us,
         list_reduce(
           list_prepend(
             list_concat([vals[1], 0.0],
                         list_transform(range(1, {m} + 1), j -> 0.0)),
             obs[2:]
           ),
           (acc, x) -> list_concat(
             [{lnew}, {bnew}],
             list_transform(range(0, {m}),
                            j -> CASE WHEN j = CAST(x[2] AS BIGINT)
                                      THEN {snew} ELSE acc[3 + j] END)
           )
         ) AS st
  FROM series
),
{face}"""


EVENTS_HOLT_WINTERS_SQL = _hw_sql()


# ---------------------------------------------------------------------------
# orders_seasonal_decompose — classical trend/seasonal/residual split
# ---------------------------------------------------------------------------

SEASONAL_MA_HALF = 6  # centered 13-month moving average


def orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of monthly order
    revenue (the moving-average step of STL without loess): trend =
    centered 13-month MA (null at the edges where the window is
    partial), seasonal = month-of-year mean of the detrended series
    re-centered to sum ~0, residual = revenue − trend − seasonal.
    The before-modeling diagnostic every forecasting pass
    (`events_holt_winters` here) should be read against: a residual
    with structure means the additive model is wrong.

    Scale: the fact-scale work is ONE month groupBy (map-side
    combined); every window after that runs on the |months|-long
    series — bounded by the calendar, not the data, so the
    unpartitioned window is a constant-size frame at any SF.
    The 12-row seasonal index rides as a broadcast join."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderdate")
    monthly = orders.groupBy(
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month")
    ).agg(F.round(F.sum("o_totalprice") + 1e-9, 2).alias("revenue"))
    w = Window.orderBy("month").rowsBetween(-SEASONAL_MA_HALF, SEASONAL_MA_HALF)
    full = 2 * SEASONAL_MA_HALF + 1
    trend = F.when(
        F.count(F.lit(1)).over(w) == full,
        F.round(F.avg("revenue").over(w) + 1e-9, 4),
    )
    m1 = monthly.withColumn("trend", trend).withColumn("moy", F.month("month"))
    sraw = (
        m1.filter(F.col("trend").isNotNull())
        .groupBy("moy")
        .agg(F.round(F.avg(F.col("revenue") - F.col("trend")) + 1e-9, 4).alias("sraw"))
    )
    grand = sraw.agg(F.round(F.avg("sraw") + 1e-9, 4).alias("g"))
    seas = sraw.crossJoin(F.broadcast(grand)).select(
        "moy", F.round(F.col("sraw") - F.col("g") + 1e-9, 4).alias("seasonal")
    )
    return m1.join(F.broadcast(seas), "moy", "left").select(
        "month",
        "revenue",
        "trend",
        "seasonal",
        F.round(F.col("revenue") - F.col("trend") - F.col("seasonal") + 1e-9, 4).alias(
            "residual"
        ),
    )


ORDERS_SEASONAL_DECOMPOSE_SQL = f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         round(sum(o_totalprice) + 1e-9, 2) AS revenue
  FROM orders GROUP BY 1
),
m1 AS (
  SELECT month, revenue,
         CASE WHEN count(*) OVER w = {2 * SEASONAL_MA_HALF + 1}
              THEN round(avg(revenue) OVER w + 1e-9, 4) END AS trend,
         month(month) AS moy
  FROM monthly
  WINDOW w AS (ORDER BY month
               ROWS BETWEEN {SEASONAL_MA_HALF} PRECEDING AND {SEASONAL_MA_HALF} FOLLOWING)
),
sraw AS (
  SELECT moy, round(avg(revenue - trend) + 1e-9, 4) AS sraw
  FROM m1 WHERE trend IS NOT NULL GROUP BY 1
),
g AS (SELECT round(avg(sraw) + 1e-9, 4) AS g FROM sraw),
seas AS (SELECT moy, round(sraw - g + 1e-9, 4) AS seasonal FROM sraw CROSS JOIN g)
SELECT m1.month, m1.revenue, m1.trend, s.seasonal,
       round(m1.revenue - m1.trend - s.seasonal + 1e-9, 4) AS residual
FROM m1 LEFT JOIN seas s USING (moy)
"""


QUERIES = {
    "events_autocorr": (events_autocorr, EVENTS_AUTOCORR_SQL),
    "orders_seasonal_decompose": (orders_seasonal_decompose, ORDERS_SEASONAL_DECOMPOSE_SQL),
    "events_holt_forecast": (events_holt_forecast, EVENTS_HOLT_FORECAST_SQL),
    "events_holt_winters": (events_holt_winters, EVENTS_HOLT_WINTERS_SQL),
    "events_cusum": (events_cusum, EVENTS_CUSUM_SQL),
    "user_value_gini": (user_value_gini, USER_VALUE_GINI_SQL),
    "events_burstiness": (events_burstiness, EVENTS_BURSTINESS_SQL),
}
