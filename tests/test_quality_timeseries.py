"""Semantic invariants for the quality-filter and time-series
operator families (value parity with DuckDB is covered by
test_oracle_parity; these pin the contracts the oracles alone
can't express)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


class TestGopherQualityFilter:
    def test_keep_is_conjunction_of_rules(self, spark, sf_dir):
        from datatransformertools_spark.operators.quality import gopher_quality_filter

        out = gopher_quality_filter(spark, sf_dir).cache()
        bad = out.filter(
            F.col("keep")
            != (
                F.col("rule_word_count")
                * F.col("rule_mean_word_len")
                * F.col("rule_alpha_frac")
                * F.col("rule_dominance")
            )
        )
        assert bad.count() == 0
        # every doc scored exactly once, ratios in [0, 1]
        assert out.count() == out.select("doc_id").distinct().count()
        assert out.filter((F.col("top_word_ratio") < 0) | (F.col("top_word_ratio") > 1)).count() == 0
        # the rules do real work on this corpus: both outcomes occur
        kept = out.filter(F.col("keep") == 1).count()
        assert 0 < kept < out.count()
        out.unpersist()


class TestDocLengthPercentileFilter:
    def test_band_and_bounds(self, spark, sf_dir):
        from datatransformertools_spark.operators.quality import (
            P_HI,
            P_LO,
            doc_length_percentile_filter,
        )
        from datatransformertools_spark.sources.tables import load_table

        out = doc_length_percentile_filter(spark, sf_dir).cache()
        n_total = load_table(spark, sf_dir, "documents").count()
        n_kept = out.count()
        # within the band by construction
        assert out.filter((F.col("n_chars") < F.col("p_lo")) | (F.col("n_chars") > F.col("p_hi"))).count() == 0
        # an interpolated P5/P95 band keeps ~90% (ties can widen it)
        assert (P_HI - P_LO) * 0.95 <= n_kept / n_total <= (P_HI - P_LO) + 0.05
        out.unpersist()


class TestWordZipfSlope:
    def test_slope_negative_r2_unit(self, spark, sf_dir):
        from datatransformertools_spark.operators.quality import word_zipf_slope

        rows = word_zipf_slope(spark, sf_dir).collect()
        assert len(rows) == 20  # one per source
        for r in rows:
            assert r["zipf_slope"] < 0  # frequency decays with rank
            assert 0.0 <= r["zipf_r2"] <= 1.0
            assert r["n_distinct_words"] > 0


class TestEventsAutocorr:
    def test_range_and_pair_counts(self, spark, sf_dir):
        from datatransformertools_spark.operators.timeseries import events_autocorr

        out = events_autocorr(spark, sf_dir).cache()
        assert out.filter((F.col("autocorr") < -1.0001) | (F.col("autocorr") > 1.0001)).count() == 0
        # lag-k series has exactly k fewer pairs than lag-0 would
        pdf = out.toPandas().set_index(["event_type", "lag"]).sort_index()
        for et in pdf.index.get_level_values(0).unique():
            n1 = pdf.loc[(et, 1), "n_pairs"]
            assert pdf.loc[(et, 2), "n_pairs"] == n1 - 1
            assert pdf.loc[(et, 3), "n_pairs"] == n1 - 2
        out.unpersist()


class TestEventsCusum:
    def test_nonnegative_and_alarm_consistent(self, spark, sf_dir):
        from datatransformertools_spark.operators.timeseries import events_cusum

        out = events_cusum(spark, sf_dir).cache()
        assert out.filter(F.col("cusum") < 0).count() == 0
        # alarmed rows have strictly larger cusum than the per-type
        # non-alarmed maximum... not necessarily globally, but alarm
        # implies cusum > 0 at least
        assert out.filter((F.col("alarm") == 1) & (F.col("cusum") <= 0)).count() == 0
        out.unpersist()

    def test_reflected_recursion_matches_reference_loop(self, spark):
        """The cumsum − running-min rewrite equals the textbook
        S_t = max(0, S_{t-1} + dev_t) recursion (pandas replay)."""
        from datatransformertools_spark.operators.timeseries import events_cusum

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "event_id": range(12),
                    "ts": pd.date_range("2024-03-01", periods=12, freq="h"),
                    "user_id": [1] * 12,
                    "event_type": ["x"] * 12,
                    "value": [1.0, 1.0, 9.0, 9.0, 1.0, 1.0, 1.0, 9.0, 9.0, 9.0, 1.0, 1.0],
                    "props": ["{}"] * 12,
                }
            )
        )
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            df.write.parquet(f"{d}/events.parquet")
            out = events_cusum(spark, d).orderBy("hour_us").toPandas()

        x = out["x"].to_numpy()
        mu, sigma = x.mean(), x.std(ddof=1)
        s, expect = 0.0, []
        for v in x:
            s = max(0.0, s + (v - mu - 0.5 * sigma))
            expect.append(s)
        for got, want in zip(out["cusum"], expect):
            assert abs(got - want) < 1e-3


class TestUserValueGini:
    def test_unit_interval_and_degenerate_cases(self, spark, sf_dir):
        from datatransformertools_spark.operators.timeseries import user_value_gini

        rows = user_value_gini(spark, sf_dir).collect()
        assert len(rows) == 5
        for r in rows:
            assert -0.01 <= r["gini"] <= 1.0
            assert r["n_users"] > 0

    def test_equal_values_give_zero(self, spark):
        from datatransformertools_spark.operators.timeseries import user_value_gini

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "event_id": range(8),
                    "ts": pd.date_range("2024-03-01", periods=8, freq="h"),
                    "user_id": [1, 2, 3, 4, 1, 2, 3, 4],
                    "event_type": ["x"] * 8,
                    "value": [2.5] * 8,
                    "props": ["{}"] * 8,
                }
            )
        )
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            df.write.parquet(f"{d}/events.parquet")
            row = user_value_gini(spark, d).first()
        assert abs(row["gini"]) < 1e-6


class TestDedupMinhashVerify:
    def test_verified_pairs_have_high_sim(self, spark, sf_dir):
        from datatransformertools_spark.operators.dedup import (
            EDIT_SIM_TAU,
            dedup_minhash_verify,
        )

        out = dedup_minhash_verify(spark, sf_dir).cache()
        rows = out.collect()
        assert len(rows) > 0
        for r in rows:
            assert r["doc_a"] < r["doc_b"]
            assert 0.0 <= r["edit_sim"] <= 1.0
            assert r["verified"] == int(r["edit_sim"] >= EDIT_SIM_TAU)
        out.unpersist()

    def test_candidates_match_lsh_stage(self, spark, sf_dir):
        """Verify stage must score exactly the LSH candidate set —
        no pair invented, none dropped."""
        from datatransformertools_spark.operators.dedup import (
            dedup_minhash_lsh,
            dedup_minhash_verify,
        )

        cand = {(r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, sf_dir).collect()}
        ver = {(r["doc_a"], r["doc_b"]) for r in dedup_minhash_verify(spark, sf_dir).collect()}
        assert cand == ver


class TestKnnLabelEval:
    def test_one_row_per_query_votes_bounded(self, spark, sf_dir):
        from datatransformertools_spark.operators.similarity import (
            KNN_EVAL_N,
            KNN_K,
            knn_label_eval,
        )

        rows = knn_label_eval(spark, sf_dir).collect()
        assert len(rows) == KNN_EVAL_N
        assert len({r["query_id"] for r in rows}) == KNN_EVAL_N
        for r in rows:
            assert 1 <= r["n_votes"] <= KNN_K
            assert r["correct"] == int(r["pred_label"] == r["true_label"])


class TestOrdersInterarrival:
    def test_gap_identities(self, spark, sf_dir):
        from datatransformertools_spark.operators.relational import orders_interarrival

        out = orders_interarrival(spark, sf_dir).cache()
        assert out.filter(F.col("n_gaps") != F.col("n_orders") - 1).count() == 0
        assert out.filter(F.col("min_gap_days") > F.col("max_gap_days")).count() == 0
        assert out.filter(
            (F.col("avg_gap_days") < F.col("min_gap_days"))
            | (F.col("avg_gap_days") > F.col("max_gap_days"))
        ).count() == 0
        out.unpersist()


class TestPartRevenuePareto:
    def test_share_bounds(self, spark, sf_dir):
        from datatransformertools_spark.operators.relational import part_revenue_pareto

        rows = part_revenue_pareto(spark, sf_dir).collect()
        assert len(rows) == 25  # one per brand
        for r in rows:
            # top-20% of parts captures ≥ 20% of revenue (sorted desc)
            assert 0.2 <= r["top20_share"] <= 1.0 + 1e-6
            assert r["n_top"] >= 1
            assert r["n_top"] <= r["n_parts"]


class TestAudioFrameEnergy:
    def test_frame_math_and_known_clip(self, spark, sf_dir):
        from datatransformertools_spark.operators.multimodal import (
            AUDIO_FRAME_SAMPLES,
            audio_frame_energy,
        )

        out = audio_frame_energy(spark, sf_dir).cache()
        # frame count = ceil(n_samples / 64), peak ≥ mean, argmax in range
        import math

        for r in out.collect():
            assert r["n_frames"] == max(1, math.ceil(r["n_samples"] / AUDIO_FRAME_SAMPLES))
            assert r["peak_energy"] >= r["mean_energy"] - 1e-9
            assert 0 <= r["peak_frame"] < r["n_frames"]
        out.unpersist()

    def test_kernel_rms_exact(self, spark):
        """RMS of a known byte pattern: 'aaaa' → samples (97−128)=−31,
        rms = 31 exactly."""
        import numpy as np

        from datatransformertools_spark.operators.multimodal import audio_frame_energy

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [0],
                    "text": ["a" * 100],
                    "lang": ["en"],
                    "source": ["s"],
                    "n_chars": [100],
                }
            )
        )
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            df.write.parquet(f"{d}/documents.parquet")
            row = audio_frame_energy(spark, d).first()
        assert row["n_samples"] == 100
        assert row["n_frames"] == 2
        assert abs(row["mean_energy"] - 31.0) < 1e-6
        assert abs(row["peak_energy"] - 31.0) < 1e-6


class TestBpeTrainMerges:
    def test_matches_reference_bpe_loop(self, spark):
        """Driver-side replay of the canonical Sennrich BPE trainer
        on a tiny planted corpus must equal the distributed result."""
        import collections

        from datatransformertools_spark.operators.text_analysis import (
            BPE_MERGES,
            bpe_train_merges,
        )

        corpus = ["low low low lower lower newest newest newest widest widest banana"]
        df = spark.createDataFrame(
            [(0, corpus[0], "en", "s", len(corpus[0]))],
            schema="doc_id long, text string, lang string, source string, n_chars long",
        )
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            df.write.parquet(f"{d}/documents.parquet")
            got = [
                (r["merge_left"], r["merge_right"], r["pair_count"])
                for r in bpe_train_merges(spark, d).orderBy("merge_rank").collect()
            ]

        vocab = collections.Counter(corpus[0].split())
        seqs = {w: list(w) for w in vocab}
        expect = []
        for _ in range(BPE_MERGES):
            counts = collections.Counter()
            for w, seq in seqs.items():
                for i in range(len(seq) - 1):
                    counts[(seq[i], seq[i + 1])] += vocab[w]
            if not counts:
                break
            (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            expect.append((a, b, c))
            for w, seq in seqs.items():
                out, i = [], 0
                while i < len(seq):
                    if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(seq[i])
                        i += 1
                seqs[w] = out
        assert got == expect

    def test_corpus_merges_monotone_nonincreasing_rank(self, spark, sf_dir):
        from datatransformertools_spark.operators.text_analysis import bpe_train_merges

        rows = bpe_train_merges(spark, sf_dir).orderBy("merge_rank").collect()
        assert len(rows) == 10
        assert all(r["pair_count"] > 0 for r in rows)
        # ranks are dense 1..10
        assert [r["merge_rank"] for r in rows] == list(range(1, 11))


class TestBpeSegmentStats:
    def test_fertility_bounds(self, spark, sf_dir):
        from datatransformertools_spark.operators.text_analysis import bpe_segment_stats

        rows = bpe_segment_stats(spark, sf_dir).collect()
        assert len(rows) == 20
        for r in rows:
            # after only 10 merges fertility stays between 1 (fully
            # merged) and the mean word length (unmerged chars)
            assert 1.0 <= r["fertility"] <= 15.0
            assert 0.0 <= r["single_subword_rate"] <= 1.0
            assert r["n_distinct_words"] <= r["n_tokens"]


class TestDatasetDatasheet:
    def test_consistency_with_direct_counts(self, spark, sf_dir):
        from datatransformertools_spark.operators.corpus import dataset_datasheet
        from datatransformertools_spark.sources.tables import load_table

        row = dataset_datasheet(spark, sf_dir).first()
        docs = load_table(spark, sf_dir, "documents")
        assert row["n_docs"] == docs.count()
        assert row["n_sources"] == docs.select("source").distinct().count()
        assert row["n_langs"] == docs.select("lang").distinct().count()
        assert 0.0 <= row["exact_dup_rate"] < 1.0
        assert 0.0 <= row["avg_quality_score"] <= 1.0


class TestEventsBurstiness:
    def test_bounds_and_poisson_sign(self, spark, sf_dir):
        from datatransformertools_spark.operators.timeseries import events_burstiness

        out = events_burstiness(spark, sf_dir).cache()
        assert out.filter((F.col("burstiness") < -1.0) | (F.col("burstiness") > 1.0)).count() == 0
        assert out.filter(F.col("std_gap_s") < 0).count() == 0
        out.unpersist()

    def test_metronome_is_minus_one(self, spark):
        from datatransformertools_spark.operators.timeseries import events_burstiness

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "event_id": range(6),
                    "ts": pd.date_range("2024-03-01", periods=6, freq="h"),
                    "user_id": [1] * 6,
                    "event_type": ["x"] * 6,
                    "value": [1.0] * 6,
                    "props": ["{}"] * 6,
                }
            )
        )
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            df.write.parquet(f"{d}/events.parquet")
            row = events_burstiness(spark, d).first()
        assert abs(row["burstiness"] - (-1.0)) < 1e-6  # σ=0 → B=−1


class TestPartitionedWritePrune:
    def test_values_match_unpartitioned_filter(self, spark, sf_dir):
        from datatransformertools_spark.operators.events import HOUR_US, _events_us
        from datatransformertools_spark.sources.sinks import (
            PRUNE_EVENT_TYPE,
            partitioned_write_prune,
        )

        got = {
            r["hour_us"]: (r["n_events"], r["sum_value"])
            for r in partitioned_write_prune(spark, sf_dir).collect()
        }
        ev = _events_us(spark, sf_dir).filter(F.col("event_type") == PRUNE_EVENT_TYPE)
        want = {
            r["hour_us"]: (r["n"], r["s"])
            for r in ev.groupBy((F.expr(f"ts_us div {HOUR_US}") * HOUR_US).alias("hour_us"))
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value") + 1e-9, 4).alias("s"))
            .collect()
        }
        assert got == want


class TestPartPriceElasticity:
    def test_one_row_per_brand_r2_unit(self, spark, sf_dir):
        from datatransformertools_spark.operators.relational import part_price_elasticity

        rows = part_price_elasticity(spark, sf_dir).collect()
        assert len(rows) == 25
        for r in rows:
            assert 0.0 <= r["r2"] <= 1.0
            assert r["n_parts"] > 0


class TestEmbeddingPcaProject:
    def test_projection_variance_and_monotone_curve(self, spark, sf_dir):
        import numpy as np

        from datatransformertools_spark.operators.similarity import embedding_pca_project

        out = embedding_pca_project(spark, sf_dir).toPandas()
        assert len(out) == 500
        s1 = float(out["pc1_var_share"].iloc[0])
        s2 = float(out["pc2_var_share"].iloc[0])
        assert 0.0 < s2 <= s1 <= 1.0
        # sample variance along PC1 >= along PC2 (eigh ordering held
        # through the distributed projection)
        v1 = np.var(out["pc1"].to_numpy())
        v2 = np.var(out["pc2"].to_numpy())
        assert v1 >= v2 - 1e-9
        # PC scores are centered: mean ≈ 0
        assert abs(out["pc1"].mean()) < 1e-3
        assert abs(out["pc2"].mean()) < 1e-3
        # variance share consistency: var(pc1)/total_var ≈ share
        from datatransformertools_spark.sources.tables import load_table

        emb = np.array(
            load_table(spark, sf_dir, "embeddings")
            .select("embedding")
            .toPandas()["embedding"]
            .tolist(),
            dtype=np.float64,
        )
        total_var = np.cov(emb, rowvar=False, bias=True).trace()
        assert abs(v1 / total_var - s1) < 1e-2


class TestCustomerSurvivalKm:
    def test_survival_monotone_nonincreasing(self, spark, sf_dir):
        from datatransformertools_spark.operators.relational import customer_survival_km

        out = customer_survival_km(spark, sf_dir).toPandas()
        assert (out["survival"] >= -1e-9).all()
        assert (out["survival"] <= 1.0 + 1e-9).all()
        for seg, grp in out.groupby("c_mktsegment"):
            s = grp.sort_values("t")["survival"].to_numpy()
            assert (s[1:] <= s[:-1] + 1e-9).all()  # non-increasing
            n = grp.sort_values("t")["n_risk"].to_numpy()
            assert (n[1:] <= n[:-1]).all()  # risk set shrinks
