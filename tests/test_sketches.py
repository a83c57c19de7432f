"""Sketch operators: approximate aggregates vs their exact answers.

HLL++ (approx_count_distinct) and t-digest-style quantiles
(percentile_approx) are the sketches a 100 TB pipeline uses when the
exact shuffle is unaffordable. Sketch values are engine-specific, so
there is no cross-engine oracle — instead these tests bound the
approximation error against the exact aggregate on the same data.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datatransformertools_spark.sources.tables import load_table


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("approx"),
        )
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        assert abs(r.approx - r.exact) <= max(0.15 * r.exact, 5), (r.event_type, r.exact, r.approx)


def test_events_user_count_hll_query_error_bound(spark, sf_dir):
    # the registered rows-only query must stay within its documented
    # 2% error contract vs the exact distinct count
    from datatransformertools_spark.operators.events import events_user_count_hll

    approx = events_user_count_hll(spark, sf_dir)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    rows = approx.join(exact, "event_type").collect()
    assert len(rows) > 0
    for r in rows:
        assert abs(r.approx_users - r.exact_users) <= max(0.02 * r.exact_users, 2), (
            r.event_type,
            r.exact_users,
            r.approx_users,
        )


def test_events_value_quantiles_sketch_vs_exact(spark, sf_dir):
    # the registered rows-only sketch query must track the exact
    # sort-based quantiles within a small relative error
    from datatransformertools_spark.operators.events import (
        events_value_quantiles,
        events_value_quantiles_sketch,
    )

    approx = events_value_quantiles_sketch(spark, sf_dir)
    exact = events_value_quantiles(spark, sf_dir)
    rows = approx.join(exact, ["event_type"]).collect()
    assert len(rows) > 0
    for r in rows:
        for name in ["p25", "median", "p75", "p95"]:
            a, e = r[f"{name}_approx"], r[name]
            spread = abs(r.p95 - r.p25) or 1.0
            assert abs(a - e) <= 0.05 * spread, (r.event_type, name, e, a)


def test_percentile_approx_brackets_exact(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    r = ev.agg(
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.expr("percentile(value, 0.95)").alias("exact_p95"),
        F.percentile_approx("value", 0.95, 10000).alias("approx_p95"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    ).first()
    spread = r.hi - r.lo
    assert abs(r.approx_p50 - r.exact_p50) <= 0.05 * spread
    assert abs(r.approx_p95 - r.exact_p95) <= 0.05 * spread


def test_cms_overcount_never_negative_and_bounded(spark, sf_dir):
    # CMS guarantee: est >= true always; with depth 4 and width 512
    # the expected overcount is N/width per row, min over 4 rows
    from datatransformertools_spark.operators.events import (
        CMS_WIDTH,
        events_heavy_hitters_cms,
    )

    n_events = load_table(spark, sf_dir, "events").count()
    rows = events_heavy_hitters_cms(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.overcount >= 0, r  # the one-sided CMS guarantee
        assert r.est_count == r.true_count + r.overcount
        # loose sanity bound: 8 expected collisions' worth
        assert r.overcount <= max(8 * n_events / CMS_WIDTH, 8), r


def test_manual_hll_within_standard_error(spark, sf_dir):
    # sigma ~ 1.04/sqrt(512) = 4.6%; assert 3-sigma ~ 14%
    from datatransformertools_spark.operators.events import events_user_count_hll_manual

    rows = events_user_count_hll_manual(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.rel_error <= 0.14, (r.event_type, r.exact_users, r.hll_estimate)
