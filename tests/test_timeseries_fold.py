"""Edge-case tests for the fold-based Holt / Holt-Winters operators.

The oracle-parity gate certifies them on the real events series;
these lock the degenerate shapes the corpus never produces:
single-observation series (the fold runs zero steps — state must be
the init), and gapped series (Holt-Winters seasonal slots must index
by hour-of-day, not sequence position, so a missing hour cannot
shift the season).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datatransformertools_spark.operators.events import HOUR_US
from datatransformertools_spark.operators.timeseries import (
    HOLT_ALPHA,
    HOLT_BETA,
    HOLT_HORIZON,
    HW_GAMMA,
    HW_SEASON,
    events_holt_forecast,
    events_holt_winters,
)


def _holt_ref(vals: list[float]) -> tuple[float, float]:
    l, b = vals[0], 0.0
    for x in vals[1:]:
        ln = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (l + b)
        b = HOLT_BETA * (ln - l) + (1 - HOLT_BETA) * b
        l = ln
    return l, b


def _hw_ref(obs: list[tuple[float, int]]) -> tuple[float, float, list[float]]:
    l, b, s = obs[0][0], 0.0, [0.0] * HW_SEASON
    for x, hod in obs[1:]:
        ln = HOLT_ALPHA * (x - s[hod]) + (1 - HOLT_ALPHA) * (l + b)
        bn = HOLT_BETA * (ln - l) + (1 - HOLT_BETA) * b
        s[hod] = HW_GAMMA * (x - ln) + (1 - HW_GAMMA) * s[hod]
        l, b = ln, bn
    return l, b, s


def _events_df(spark, rows):
    # rows: (hour_index, event_type, n_events) — n_events rows in that hour
    data = []
    eid = 0
    for hour, etype, n in rows:
        for _ in range(n):
            data.append((eid, hour * 3600, etype))
            eid += 1
    df = spark.createDataFrame(data, "event_id long, epoch_s long, event_type string")
    return df.select(
        "event_id",
        F.timestamp_seconds(F.col("epoch_s")).alias("ts"),
        F.lit(1).alias("user_id").cast("long"),
        "event_type",
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )


@pytest.fixture(scope="module")
def tiny_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("holt_edge")
    # type 'solo': one observation only (fold must be a no-op).
    # type 'gap': hours 0,1,3 (hour 2 missing) with counts 4,6,8.
    df = _events_df(
        spark,
        [(0, "solo", 5), (0, "gap", 4), (1, "gap", 6), (3, "gap", 8)],
    )
    df.write.mode("overwrite").parquet(str(out / "events.parquet"))
    return str(out)


def test_holt_single_point_is_init_state(spark, tiny_dir):
    rows = {
        (r["event_type"], r["h"]): r
        for r in events_holt_forecast(spark, tiny_dir).collect()
    }
    solo1 = rows[("solo", 1)]
    assert solo1["level"] == 5.0
    assert solo1["trend"] == 0.0
    assert solo1["forecast"] == 5.0
    assert len([k for k in rows if k[0] == "solo"]) == HOLT_HORIZON


def test_holt_matches_reference_recursion(spark, tiny_dir):
    l, b = _holt_ref([4.0, 6.0, 8.0])
    rows = {r["h"]: r for r in events_holt_forecast(spark, tiny_dir).collect() if r["event_type"] == "gap"}
    assert rows[2]["level"] == round(l + 1e-9, 6)
    assert rows[2]["trend"] == round(b + 1e-9, 6)
    assert rows[2]["forecast"] == round(l + 2 * b + 1e-9, 6)


def test_holt_winters_season_indexes_by_hour_of_day(spark, tiny_dir):
    # the gap series observes hours-of-day 0, 1, 3 — slot 2 must stay
    # untouched (0.0) and slot 3 must carry the update from the
    # hour-3 observation even though it is the 3rd element.
    l, b, s = _hw_ref([(4.0, 0), (6.0, 1), (8.0, 3)])
    rows = {r["h"]: r for r in events_holt_winters(spark, tiny_dir).collect() if r["event_type"] == "gap"}
    # last hour-of-day is 3, so h=1 forecasts hod 4 (untouched slot),
    # and h=23 wraps to hod 2 (the gap — also untouched)
    assert rows[1]["season"] == 0.0
    assert rows[1]["level"] == round(l + 1e-9, 6)
    assert rows[1]["trend"] == round(b + 1e-9, 6)
    # h=6 → hod 9: untouched slot, forecast = l + 6b
    assert rows[6]["forecast"] == round(l + 6 * b + 1e-9, 6)


def test_holt_winters_single_point(spark, tiny_dir):
    rows = [r for r in events_holt_winters(spark, tiny_dir).collect() if r["event_type"] == "solo"]
    assert len(rows) == HOLT_HORIZON
    for r in rows:
        assert r["level"] == 5.0 and r["trend"] == 0.0 and r["season"] == 0.0
