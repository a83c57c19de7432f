"""Round-7 tests: the `_cells_join` assignment path exercised
end-to-end inside a registered query's build (VERDICT r6 #4), the
cross-query memo hygiene contract (ADVICE r6), and the
quantized nation_trade_matrix face.
"""

from __future__ import annotations

# Dropping every cross-query memo makes the next embedding build
# re-run the full fit + blocking + pair join.
from datatransformertools_spark.caching import Memo, clear_all_memos


class TestCellsJoinEndToEnd:
    def test_tau_pairs_identical_past_codegen_ceiling(self, spark, sf_dir, monkeypatch):
        """Force corpus_k past (a lowered) K_LITERAL_MAX so one FULL
        dedup_embedding pair build — Lloyd fit, multi-probe blocking,
        τ-join — runs through the broadcast-join argmin
        (`_cells_join`), the 100 TB assignment path, and assert the
        τ-pairs are identical to the literal-centroid path's. Until
        r7 the join path was only unit-tested for single-assignment
        equality, never run inside a registered query."""
        import datatransformertools_spark.operators.dedup as dd
        import datatransformertools_spark.operators.similarity as sim

        def pairs_set():
            df = dd._emb_tau_pairs(spark, sf_dir)
            return {(r["vec_a"], r["vec_b"], r["cos_sim"]) for r in df.collect()}

        clear_all_memos()
        literal = pairs_set()
        assert literal  # the corpus has near-dup embeddings by construction

        calls = {"n": 0}
        real_cells_join = sim._cells_join

        def counting_cells_join(*args, **kwargs):
            calls["n"] += 1
            return real_cells_join(*args, **kwargs)

        clear_all_memos()
        # corpus_k floors at K_CLUSTERS=8 on the shipped SFs; a
        # ceiling of 4 puts every assignment (fit iterations AND the
        # probe explode) on the join path
        monkeypatch.setattr(sim, "K_LITERAL_MAX", 4)
        monkeypatch.setattr(sim, "_cells_join", counting_cells_join)
        try:
            joined = pairs_set()
        finally:
            clear_all_memos()  # drop frames built under the patch
        # fit runs KMEANS_ITERS assignments + one probe explode
        assert calls["n"] >= sim.KMEANS_ITERS + 1
        assert joined == literal

    def test_dedup_embedding_query_on_join_path(self, spark, sf_dir, monkeypatch):
        """The registered dedup_embedding query itself returns the
        identical keeper set on the join path."""
        import datatransformertools_spark.operators.dedup as dd
        import datatransformertools_spark.operators.similarity as sim

        clear_all_memos()
        literal = {tuple(r) for r in dd.dedup_embedding(spark, sf_dir).collect()}

        clear_all_memos()
        monkeypatch.setattr(sim, "K_LITERAL_MAX", 4)
        try:
            joined = {tuple(r) for r in dd.dedup_embedding(spark, sf_dir).collect()}
        finally:
            clear_all_memos()
        assert joined == literal


class TestFrameMemo:
    """caching.Memo: LRU cap, stale-app eviction and release by value
    type (a frame is unpersisted, a TemporaryDirectory removed)."""

    def test_lru_cap_and_clear(self, spark, sf_dir, monkeypatch):
        import os
        import tempfile

        from pyspark.sql import functions as F
        from pyspark.storagelevel import StorageLevel

        from datatransformertools_spark import caching

        monkeypatch.setattr(caching, "MEMO_CAP", 2)

        def frame(i):
            return spark.range(i + 1).select(F.col("id"))

        def tempdir(i):
            return tempfile.TemporaryDirectory(prefix=f"dtt-memo-test-{i}-")

        def released(value):
            if isinstance(value, tempfile.TemporaryDirectory):
                return not os.path.exists(value.name)
            return value.storageLevel == StorageLevel.NONE

        for make in (frame, tempdir):
            memo = caching.Memo()
            builds = {"n": 0}

            def make_build(i):
                def build():
                    builds["n"] += 1
                    return make(i)

                return build

            # 3 distinct sf_dir keys through a cap of 2
            got = [memo.get_or_build(spark, f"/fake/sf{i}", make_build(i)) for i in range(3)]
            assert builds["n"] == 3
            assert len(memo) == 2  # oldest evicted at the cap
            assert released(got[0])  # ... and released, not just forgotten
            assert not released(got[2])
            # hit: most-recent key rebuilds nothing
            assert memo.get_or_build(spark, "/fake/sf2", make_build(2)) is got[2]
            assert builds["n"] == 3
            # evicted key rebuilds
            memo.get_or_build(spark, "/fake/sf0", make_build(0))
            assert builds["n"] == 4
            assert memo.clear() == 2
            assert len(memo) == 0
            assert released(got[2])

    def test_stale_app_entries_evicted(self, spark):
        from pyspark.sql import functions as F
        from pyspark.storagelevel import StorageLevel

        memo = Memo()
        df = spark.range(1).select(F.col("id")).persist()
        memo._entries[("dead-app-id", "/fake/sf")] = df
        got = memo.get_or_build(spark, "/fake/sf", lambda: spark.range(2).select(F.col("id")))
        assert got.count() == 2  # rebuilt, not the dead handle
        assert len(memo) == 1
        assert df.storageLevel == StorageLevel.NONE  # unpersisted, not just forgotten
        memo.clear()

    def test_shingle_frames_shared_across_queries(self, spark, sf_dir):
        """jaccard + containment + the simhash curve all start from
        ONE memoized capped-shingle materialization per session."""
        import datatransformertools_spark.operators.dedup as dd

        clear_all_memos()
        first = dd._capped_shingle_df(spark, sf_dir)
        second = dd._capped_shingle_df(spark, sf_dir)
        assert first is second
        assert clear_all_memos() >= 2  # shingle + capped entries


class TestTradeMatrixFace:
    def test_ppm_face_is_integer_quantized(self, spark, sf_dir):
        from datatransformertools_spark.operators.relational import nation_trade_matrix

        df = nation_trade_matrix(spark, sf_dir)
        dtypes = dict(df.dtypes)
        assert dtypes["world_share_ppm"] == "bigint"
        assert dtypes["revenue"] == "double"
        rows = df.collect()
        # ppm shares tile world trade up to per-cell rounding
        assert abs(sum(r["world_share_ppm"] for r in rows) - 1_000_000) <= len(rows)
        for r in rows:
            # 2-dp face: the double is exactly its own 2-dp rounding
            assert abs(r["revenue"] - round(r["revenue"], 2)) < 1e-9


class TestR7NewOps:
    """Semantic invariants for the operators new in round 7 (value
    parity vs DuckDB is covered by tests/test_oracle_parity.py)."""

    def test_doc_duplication_score_invariants(self, spark, sf_dir):
        from datatransformertools_spark.operators.dedup import doc_duplication_score
        from datatransformertools_spark.sources.tables import load_table

        rows = doc_duplication_score(spark, sf_dir).collect()
        assert rows
        n_docs = load_table(spark, sf_dir, "documents").count()
        assert len(rows) <= n_docs  # <3-token docs contribute no shingles
        for r in rows:
            assert 0 <= r["n_shared"] <= r["n_shingles"]
            assert 0.0 <= r["dup_frac"] <= 1.0 + 1e-9
            assert r["mean_df"] >= 1.0  # a shingle's df counts its own holder

    def test_tau_retention_monotone(self, spark, sf_dir):
        from datatransformertools_spark.operators.dedup import (
            EMB_RETENTION_TAUS,
            emb_tau_retention_curve,
        )

        rows = {r["tau"]: r for r in emb_tau_retention_curve(spark, sf_dir).collect()}
        assert set(rows) == set(EMB_RETENTION_TAUS)
        taus = sorted(rows)
        for lo, hi in zip(taus, taus[1:]):
            # a stricter τ can only keep more of the corpus
            assert rows[lo]["retention"] <= rows[hi]["retention"] + 1e-9
            assert rows[lo]["n_pairs"] >= rows[hi]["n_pairs"]
            assert rows[lo]["n_dropped"] >= rows[hi]["n_dropped"]
        for r in rows.values():
            assert 0.0 <= r["retention"] <= 1.0 + 1e-9
            assert r["n_dropped"] <= r["n_pairs"] or r["n_pairs"] == 0

    def test_silhouette_bounds_and_label_coverage(self, spark, sf_dir):
        from datatransformertools_spark.operators.similarity import embedding_silhouette
        from datatransformertools_spark.sources.tables import load_table

        rows = embedding_silhouette(spark, sf_dir).collect()
        n_labels = load_table(spark, sf_dir, "embeddings").select("label").distinct().count()
        assert len(rows) == n_labels
        for r in rows:
            assert -1.0 - 1e-9 <= r["mean_silhouette"] <= 1.0 + 1e-9
            assert r["mean_intra"] >= 0.0
            assert r["mean_nearest_other"] >= 0.0
            assert r["n_vectors"] > 0

    def test_knn_outlier_face(self, spark, sf_dir):
        from datatransformertools_spark.operators.similarity import (
            KNN_OUTLIER_TOP,
            embedding_knn_outlier,
        )

        rows = embedding_knn_outlier(spark, sf_dir).collect()
        assert 0 < len(rows) <= KNN_OUTLIER_TOP
        dists = [r["knn_mean_dist"] for r in rows]
        assert dists == sorted(dists, reverse=True)  # ranked most-outlying first
        for r in rows:
            assert 0.0 <= r["knn_mean_dist"] <= 2.0 + 1e-9  # cosine distance range
            if r["n_neighbors"] == 0:
                assert r["knn_mean_dist"] == 1.0  # isolated-vector convention

    def test_price_index_base_year_is_unity(self, spark, sf_dir):
        from datatransformertools_spark.operators.relational import part_price_index

        rows = sorted(part_price_index(spark, sf_dir).collect(), key=lambda r: r["yr"])
        assert rows
        base = rows[0]
        assert abs(base["laspeyres"] - 1.0) < 1e-6
        assert abs(base["paasche"] - 1.0) < 1e-6
        assert abs(base["fisher"] - 1.0) < 1e-6
        for r in rows:
            lo, hi = sorted((r["laspeyres"], r["paasche"]))
            # Fisher is the geometric mean — always between the two
            assert lo - 1e-6 <= r["fisher"] <= hi + 1e-6
            assert r["n_parts"] > 0

    def test_return_rate_wilson_below_point_estimate(self, spark, sf_dir):
        from datatransformertools_spark.operators.relational import supplier_return_rate
        from datatransformertools_spark.sources.tables import load_table

        rows = supplier_return_rate(spark, sf_dir).collect()
        n_supp = load_table(spark, sf_dir, "supplier").count()
        assert len(rows) == n_supp  # every supplier trades in TPC-H-ish data
        for r in rows:
            assert 0.0 <= r["wilson_lb"] <= r["return_rate"] + 1e-9
            assert 0.0 <= r["return_rate"] <= 1.0
            assert abs(r["excess_rate"] - round(r["return_rate"] - r["nation_rate"], 6)) <= 2e-6

    def test_fdr_step_up_contract(self, spark, sf_dir):
        from datatransformertools_spark.operators.events import FDR_ALPHA, events_anomaly_fdr

        rows = events_anomaly_fdr(spark, sf_dir).collect()
        assert rows
        m = len(rows)
        ranks = sorted(r["p_rank"] for r in rows)
        assert ranks == list(range(1, m + 1))  # a total ranking, no gaps
        sig = [r for r in rows if r["is_significant"]]
        if sig:
            k_star = max(r["p_rank"] for r in sig)
            # step-up: EVERYTHING at or below k* is significant
            assert len(sig) == k_star
            boundary = next(r for r in rows if r["p_rank"] == k_star)
            assert boundary["p_value"] <= k_star * FDR_ALPHA / m + 1e-12
        for r in rows:
            assert 0.0 <= r["p_value"] <= 1.0 + 1e-9

    def test_epoch_schedule_caps_and_shares(self, spark, sf_dir):
        from datatransformertools_spark.operators.corpus import (
            MAX_DATA_EPOCHS,
            source_epoch_schedule,
        )

        rows = source_epoch_schedule(spark, sf_dir).collect()
        assert rows
        assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-4
        assert abs(sum(r["realized_share"] for r in rows) - 1.0) < 1e-4
        for r in rows:
            assert 0 < r["epochs_alloc"] <= MAX_DATA_EPOCHS + 1e-9
            if r["capped"]:
                assert abs(r["epochs_alloc"] - MAX_DATA_EPOCHS) < 1e-9
                assert r["effective_chars"] <= r["target_chars"] + 0.01
            else:
                assert abs(r["effective_chars"] - r["target_chars"]) <= 0.02


class TestR7Batch2Ops:
    """Semantic invariants for the second r7 operator batch."""

    def test_funnel_latency_consistent_with_funnel(self, spark, sf_dir):
        from datatransformertools_spark.operators.events import (
            events_funnel,
            events_funnel_latency,
        )

        fun = events_funnel(spark, sf_dir).collect()[0]
        rows = {r["step"]: r for r in events_funnel_latency(spark, sf_dir).collect()}
        assert set(rows) == {"view_to_click", "click_to_purchase"}
        # converted counts must be exactly the funnel's stage counts
        assert rows["view_to_click"]["n_converted"] == fun["clicked_after_view"]
        assert rows["click_to_purchase"]["n_converted"] == fun["purchased_after_click"]
        for r in rows.values():
            assert 0 <= r["median_s"] <= r["p90_s"]
            assert r["mean_s"] >= 0

    def test_entropy_rate_bounds(self, spark, sf_dir):
        from datatransformertools_spark.operators.events import events_entropy_rate

        r = events_entropy_rate(spark, sf_dir).collect()[0]
        assert r["n_transitions"] > 0
        assert r["n_types"] >= 2
        # 0 ≤ H ≤ log2(|A|): conditioning can only reduce entropy
        assert -1e-9 <= r["entropy_rate_bits"] <= r["max_bits"] + 1e-9
        assert 0.0 <= r["entropy_efficiency"] <= 1.0 + 1e-9

    def test_intrinsic_dim_plausible(self, spark, sf_dir):
        from datatransformertools_spark.operators.similarity import (
            DIM,
            embedding_intrinsic_dim,
        )

        r = embedding_intrinsic_dim(spark, sf_dir).collect()[0]
        assert 0 < r["n_used"] <= r["n_with_neighbors"]
        # TwoNN must land strictly inside (0, ambient-dim] on real data
        assert 0 < r["id_mle"] <= DIM * 2  # generous: MLE variance on small n

    def test_mix_drift_base_year_zero(self, spark, sf_dir):
        from datatransformertools_spark.operators.relational import (
            orders_priority_mix_drift,
        )

        rows = sorted(
            orders_priority_mix_drift(spark, sf_dir).collect(), key=lambda r: r["yr"]
        )
        assert rows
        base = rows[0]
        assert abs(base["psi"]) < 1e-9  # a year vs itself drifts nothing
        assert abs(base["max_abs_shift"]) < 1e-9
        for r in rows:
            assert r["psi"] >= -1e-9  # PSI terms are (p−p0)·ln(p/p0) ≥ 0 summed
            assert 0 <= r["max_abs_shift"] <= 1.0

    def test_template_families_contract(self, spark, sf_dir):
        from datatransformertools_spark.operators.dedup import (
            TPL_MIN_DOCS,
            template_prefix_families,
        )

        rows = template_prefix_families(spark, sf_dir).collect()
        for r in rows:
            assert r["n_docs"] >= TPL_MIN_DOCS
            assert 1 <= r["n_sources"] <= r["n_docs"]
            assert 1 <= r["n_distinct_texts"] <= r["n_docs"]
            assert len(r["head_h"]) == 32  # md5 hex — text never shuffles


class TestR7GraphOps:
    def test_bfs_hops_contract(self, spark, sf_dir):
        from datatransformertools_spark.operators.graph import BFS_ITERS, part_bfs_hops

        rows = part_bfs_hops(spark, sf_dir).collect()
        assert rows
        hops = {r["part"]: r["hops"] for r in rows}
        seed = min(hops)  # seed is the smallest partkey with an edge
        assert hops[seed] == 0
        assert sum(1 for h in hops.values() if h == 0) == 1  # exactly one seed
        assert all(0 <= h <= BFS_ITERS for h in hops.values())

    def test_degree_distribution_consistent(self, spark, sf_dir):
        from datatransformertools_spark.operators.graph import part_degree_distribution

        rows = part_degree_distribution(spark, sf_dir).collect()
        assert rows
        assert abs(sum(r["endpoint_share"] for r in rows) - 1.0) < 1e-4
        for r in rows:
            assert r["min_degree"] <= r["max_degree"]
            # bucket bounds honor the log2 cut
            assert (1 << r["log2_bucket"]) <= r["min_degree"]
            assert r["max_degree"] < (1 << (r["log2_bucket"] + 1))
            assert r["n_nodes"] > 0
