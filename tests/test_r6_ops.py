"""Invariant tests for the operators new in round 6 (value parity
vs DuckDB is covered by tests/test_oracle_parity.py; these pin the
semantic contracts the numbers must satisfy)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datatransformertools_spark.sources.tables import load_table


def test_mutual_info_bounds(spark, sf_dir):
    from datatransformertools_spark.operators.relational import (
        priority_returnflag_mutual_info,
    )

    r = priority_returnflag_mutual_info(spark, sf_dir).collect()
    assert len(r) == 1
    row = r[0]
    assert row["mi_bits"] >= 0
    assert 0 <= row["nmi"] <= 1
    assert 0 <= row["cramers_v"] <= 1
    assert row["n_pairs"] > 0


def test_clv_forecast_invariants(spark, sf_dir):
    from datatransformertools_spark.operators.relational import customer_clv_forecast

    rows = customer_clv_forecast(spark, sf_dir).collect()
    assert rows
    n_cust = load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    assert len(rows) == n_cust
    for r in rows:
        assert 0 < r["p_alive"] <= 1
        assert 0 <= r["recency_days"] <= r["age_days"]
        assert r["expected_orders_365"] >= 0
        # CLV is the expected-order count priced at the avg order value
        assert abs(r["clv_365"] - r["expected_orders_365"] * r["avg_order_value"]) <= (
            0.01 * r["avg_order_value"] + 0.01
        )


def test_markov_anomaly_invariants(spark, sf_dir):
    from datatransformertools_spark.operators.events import events_markov_anomaly

    rows = events_markov_anomaly(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_trans"] >= 1
        assert r["avg_logp"] <= 0  # probabilities ≤ 1
        if r["z_score"] is not None:
            assert r["is_anomaly"] == (abs(r["z_score"]) > 2.0)


def test_bitmap_rollup_invariants(spark, sf_dir):
    from datatransformertools_spark.operators.events import events_bitmap_rollup

    rows = events_bitmap_rollup(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["hour_bitmap"] < (1 << 24)
        assert 1 <= r["n_active_hours"] <= 24
        assert bin(r["hour_bitmap"]).count("1") == r["n_active_hours"]
        assert r["n_morning"] + r["n_evening"] <= r["n_active_hours"]


def test_knn_graph_ranks_and_mutuality(spark, sf_dir):
    from datatransformertools_spark.operators.similarity import (
        EMB_KNN_K,
        embedding_knn_graph,
    )

    rows = embedding_knn_graph(spark, sf_dir).collect()
    assert rows
    by_src: dict[int, list] = {}
    edges = set()
    for r in rows:
        assert 1 <= r["rank"] <= EMB_KNN_K
        assert r["src"] != r["dst"]
        by_src.setdefault(r["src"], []).append(r)
        edges.add((r["src"], r["dst"]))
    for src, es in by_src.items():
        ranks = sorted(e["rank"] for e in es)
        assert ranks == list(range(1, len(es) + 1)), f"src {src}: ranks {ranks}"
        sims = [e["cos_sim"] for e in sorted(es, key=lambda e: e["rank"])]
        assert sims == sorted(sims, reverse=True)
    for r in rows:
        assert r["is_mutual"] == ((r["dst"], r["src"]) in edges)


def test_source_length_ks_bounds(spark, sf_dir):
    from datatransformertools_spark.operators.quality import source_length_ks

    rows = source_length_ks(spark, sf_dir).collect()
    assert rows
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == total
    for r in rows:
        assert 0 <= r["ks_stat"] <= 1


def test_shard_pack_balance(spark, sf_dir):
    from datatransformertools_spark.operators.corpus import (
        PACK_N_SHARDS,
        shard_pack_balanced,
    )

    rows = shard_pack_balanced(spark, sf_dir).collect()
    assert {r["shard"] for r in rows} == set(range(PACK_N_SHARDS))
    assert abs(sum(r["chars_share"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        # round-robin within log2 bands keeps byte shares near 1/N
        assert abs(r["share_dev"]) < 0.05, rows


def test_dedup_funnel_monotone(spark, sf_dir):
    from datatransformertools_spark.operators.corpus import dedup_funnel_by_source

    rows = dedup_funnel_by_source(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_near_keepers"] <= r["n_exact_keepers"] <= r["n_raw"]
        assert 0 <= r["near_retention"] <= r["exact_retention"] <= 1


def test_pii_rate_by_source_consistent(spark, sf_dir):
    from datatransformertools_spark.operators.corpus import (
        pii_rate_by_source,
        pii_scrub,
    )

    rows = pii_rate_by_source(spark, sf_dir).collect()
    assert rows
    tot = pii_scrub(spark, sf_dir).agg(
        F.sum("n_emails").alias("e"), F.sum("n_phones").alias("p"), F.sum("n_ssns").alias("s")
    ).first()
    assert sum(r["n_emails"] for r in rows) == tot["e"]
    assert sum(r["n_phones"] for r in rows) == tot["p"]
    assert sum(r["n_ssns"] for r in rows) == tot["s"]
    for r in rows:
        assert 0 <= r["n_docs_with_pii"] <= r["n_docs"]
        assert 0 <= r["pii_rate"] <= 1


def test_seasonal_decompose_reconstruction(spark, sf_dir):
    from datatransformertools_spark.operators.timeseries import (
        SEASONAL_MA_HALF,
        orders_seasonal_decompose,
    )

    rows = sorted(orders_seasonal_decompose(spark, sf_dir).collect(), key=lambda r: r["month"])
    assert rows
    # trend exists exactly where the centered window is full
    n = len(rows)
    for i, r in enumerate(rows):
        has_full = SEASONAL_MA_HALF <= i < n - SEASONAL_MA_HALF
        assert (r["trend"] is not None) == has_full, (i, r)
        if r["trend"] is not None and r["seasonal"] is not None:
            # additive model reconstructs revenue up to rounding
            assert abs(r["revenue"] - (r["trend"] + r["seasonal"] + r["residual"])) < 0.01


def test_simhash_hamming_curve_shape(spark, sf_dir):
    from datatransformertools_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        dedup_simhash,
        simhash_hamming_curve,
    )

    rows = sorted(simhash_hamming_curve(spark, sf_dir).collect(), key=lambda r: r["hamming"])
    assert rows
    for r in rows:
        assert 0 <= r["hamming"] <= 48
        assert r["n_pairs"] >= 1
        if r["avg_jaccard"] is not None:
            assert 0 <= r["avg_jaccard"] <= 1
    # the curve's pairs within the production radius must equal the
    # dedup_simhash output exactly
    in_radius = sum(r["n_pairs"] for r in rows if r["hamming"] <= SIMHASH_MAX_HAMMING)
    assert in_radius == dedup_simhash(spark, sf_dir).count()


def test_ann_ivf_probe_curve_monotone(spark, sf_dir):
    from datatransformertools_spark.operators.similarity import ann_ivf_probe_curve

    rows = sorted(ann_ivf_probe_curve(spark, sf_dir).collect(), key=lambda r: r["probe"])
    assert [r["probe"] for r in rows] == [1, 2, 3, 4]
    # widening the probe budget can only find more of the true top-k
    for a, b in zip(rows, rows[1:]):
        assert b["n_hits"] >= a["n_hits"]
    for r in rows:
        assert 0 <= r["recall"] <= 1


def test_events_dispersion_invariants(spark, sf_dir):
    from datatransformertools_spark.operators.events import (
        DISPERSION_THRESHOLD,
        events_dispersion_test,
    )

    rows = events_dispersion_test(spark, sf_dir).collect()
    assert rows
    n_hours = {r["n_hours"] for r in rows}
    assert len(n_hours) == 1  # every type shares the same full grid
    for r in rows:
        assert r["var_per_hour"] >= 0
        assert r["dispersion_index"] is None or r["dispersion_index"] >= 0
        if r["dispersion_index"] is not None:
            assert r["overdispersed"] == (r["dispersion_index"] > DISPERSION_THRESHOLD)


def test_user_hour_profile_kmeans_contract(spark, sf_dir):
    from datatransformertools_spark.operators.events import (
        UHP_DIM,
        UHP_K,
        user_hour_profile_kmeans,
    )

    rows = user_hour_profile_kmeans(spark, sf_dir).collect()
    assert len(rows) == UHP_K * UHP_DIM
    # profiles are shares in [0,1]; centroid coords must stay inside
    for r in rows:
        assert -1e-6 <= r["cval"] <= 1 + 1e-6
    # members per cluster constant across dims; totals = |users|
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    per_cluster = {}
    for r in rows:
        per_cluster.setdefault(r["cluster"], set()).add(r["n_members"])
    assert all(len(v) == 1 for v in per_cluster.values())
    assert sum(next(iter(v)) for v in per_cluster.values()) == n_users


def test_table_stats_profile_matches_spec(spark, sf_dir):
    from datatransformertools_spark.operators.audit import (
        _STATS_SPEC,
        table_stats_profile,
    )

    rows = {(r["tbl"], r["col"]): r for r in table_stats_profile(spark, sf_dir).collect()}
    assert set(rows) == set(_STATS_SPEC)
    for (tbl, col), r in rows.items():
        assert r["n_rows"] == load_table(spark, sf_dir, tbl).count()
        assert 0 <= r["n_distinct"] <= r["n_rows"]
        assert 0 <= r["n_nulls"] <= r["n_rows"]


def test_lang_mismatch_consistent_with_lang_id(spark, sf_dir):
    from datatransformertools_spark.operators.text_analysis import (
        lang_id,
        lang_mismatch_by_source,
    )

    rows = lang_mismatch_by_source(spark, sf_dir).collect()
    assert rows
    tot_unk = lang_id(spark, sf_dir).filter(F.col("pred_lang") == "unk").count()
    assert sum(r["n_unk"] for r in rows) == tot_unk
    for r in rows:
        assert r["n_unk"] + r["n_mismatch"] <= r["n_docs"]
