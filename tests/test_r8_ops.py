"""Round-8 tests: the timeout-evicted custom session kernel (state
actually leaves the store), the encoding audit's nonzero detection
paths (the corpus is clean, so the gate alone never exercises them),
the session-gap audit's histogram invariants, and the shared kNN
edge memo (one build per session/corpus across its three consumers).
"""

from __future__ import annotations

from pyspark.sql import functions as F


class TestStreamSessionTimeout:
    def test_timeout_evicts_state(self, spark, sf_dir, drain_two_batches):
        """Two-batch drain (real file, then the far-future sentinel):
        after the sentinel advances the watermark, every real user's
        open session must TIME OUT — emitted via hasTimedOut and
        removed via state.remove() — leaving at most the sentinel's
        own key in the store. Asserted from the query's state-store
        metrics, not just from correct values."""
        from datatransformertools_spark.sources.tables import (
            events_event_time,
            events_ts_us,
        )
        from datatransformertools_spark.streaming.events import (
            SENTINEL_USER,
            stream_session_timeout,
        )

        def plan(raw):
            ev = (
                raw.withColumn("ts_us", events_ts_us(raw))
                .withColumn("event_time", events_event_time(raw))
                .withWatermark("event_time", "60 minutes")
            )
            return stream_session_timeout(ev)

        sink, progresses = drain_two_batches(plan, "append")

        emitted = sink.filter(F.col("user_id") != SENTINEL_USER)
        n_users = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("user_id")
            .distinct()
            .count()
        )
        # every real user's FINAL session can only arrive via the
        # timeout path (nothing follows it in the feed)
        assert emitted.groupBy("user_id").count().count() == n_users
        # the store ends (at most) with the sentinel's never-closed key
        finals = [
            op.get("numRowsTotal")
            for p in reversed(progresses)
            for op in (p.get("stateOperators") or [])
            if op.get("numRowsTotal") is not None
        ]
        assert finals and finals[0] <= 1, f"state not evicted: {finals[:3]}"

    def test_matches_builtin_session_window(self, spark, sf_dir):
        """The custom timeout kernel and the built-in session_window
        twin must produce the identical session table — same
        decomposition, same (start, end, n, total) faces."""
        from datatransformertools_spark.streaming.events import (
            events_stream_session_timeout,
            events_stream_sessionize,
        )

        custom = {tuple(r) for r in events_stream_session_timeout(spark, sf_dir).collect()}
        builtin = {tuple(r) for r in events_stream_sessionize(spark, sf_dir).collect()}
        assert custom == builtin
        assert len(custom) > 0


class TestDocEncodingAudit:
    def test_detects_injected_mojibake(self, spark):
        """The corpus is clean, so the gate row certifies zeros; this
        exercises every nonzero path on constructed rows."""
        from datatransformertools_spark.operators.text_analysis import (
            _CTRL_JAVA,
            _NONASCII_JAVA,
            _REPL_JAVA,
            _ZW_JAVA,
        )

        rows = [
            ("a", "clean ascii text"),
            ("a", "bad transcode � here"),
            ("a", "binary junk \x07 bell"),
            ("b", "zero​width and bom ﻿"),
            ("b", "café naïve résumé"),  # non-ascii, no flags
            ("b", "tabs\tand\nnewlines\rare fine"),
        ]
        df = spark.createDataFrame(rows, "source string, text string")
        got = {
            r["source"]: r
            for r in df.select(
                "source",
                F.col("text").rlike(_REPL_JAVA).cast("int").alias("repl"),
                F.col("text").rlike(_CTRL_JAVA).cast("int").alias("ctrl"),
                F.col("text").rlike(_ZW_JAVA).cast("int").alias("zw"),
                (
                    F.length("text")
                    - F.length(F.regexp_replace("text", _NONASCII_JAVA, ""))
                ).alias("non_ascii"),
            )
            .groupBy("source")
            .agg(
                F.sum("repl").alias("repl"),
                F.sum("ctrl").alias("ctrl"),
                F.sum("zw").alias("zw"),
                F.sum("non_ascii").alias("non_ascii"),
            )
            .collect()
        }
        assert got["a"]["repl"] == 1 and got["a"]["ctrl"] == 1 and got["a"]["zw"] == 0
        # U+FFFD is non-ascii too; \x07 is ascii
        assert got["a"]["non_ascii"] == 1
        assert got["b"]["repl"] == 0 and got["b"]["ctrl"] == 0 and got["b"]["zw"] == 1
        # b: U+200B + U+FEFF + é, ï, é, é  (tab/newline/CR exempt)
        assert got["b"]["non_ascii"] == 6

    def test_face_is_clean_on_corpus(self, spark, sf_dir):
        from datatransformertools_spark.operators.text_analysis import doc_encoding_audit

        face = doc_encoding_audit(spark, sf_dir)
        rows = face.collect()
        assert len(rows) > 0
        for r in rows:
            assert r["n_replacement_docs"] == 0
            assert r["n_control_docs"] == 0
            assert 0.0 <= r["non_ascii_ratio"] <= 1.0


class TestSessionGapAudit:
    def test_histogram_invariants(self, spark, sf_dir):
        """Shares sum to 1, cum_share is monotone and ends at 1, and
        the gap population equals events minus users (one lag-null
        per user)."""
        from datatransformertools_spark.operators.events import events_session_gap_audit

        rows = sorted(
            events_session_gap_audit(spark, sf_dir).collect(),
            key=lambda r: r["gap_bucket"],
        )
        assert rows
        total_share = sum(r["share"] for r in rows)
        assert abs(total_share - 1.0) < 1e-4
        cums = [r["cum_share"] for r in rows]
        assert cums == sorted(cums)
        assert abs(cums[-1] - 1.0) < 1e-6
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        n_events = ev.count()
        n_users = ev.select("user_id").distinct().count()
        assert sum(r["n_gaps"] for r in rows) == n_events - n_users


class TestKnnEdgeMemo:
    def test_one_build_shared_across_consumers(self, spark, sf_dir):
        """VERDICT r7 #4: the ranked kNN edge list must be built once
        per (session, sf_dir) and shared by knn_graph / knn_outlier /
        intrinsic_dim — asserted by identity of the memoized frame
        across calls, and by the memo registering exactly one entry."""
        import datatransformertools_spark.operators.similarity as sim
        from datatransformertools_spark.caching import clear_all_memos

        clear_all_memos()
        e1 = sim._knn_edges(spark, sf_dir)
        e2 = sim._knn_edges(spark, sf_dir)
        assert e1 is e2
        assert len(sim._KNN_EDGES_MEMO) == 1
        # consumers agree with the shared frame
        n_edges = e1.count()
        assert n_edges > 0
        graph_edges = sim.embedding_knn_graph(spark, sf_dir).count()
        assert graph_edges == n_edges
        assert clear_all_memos() >= 1


class TestSessionStats:
    def test_reconciles_with_sessionize(self, spark, sf_dir):
        """The histogram must partition exactly the session population
        `events_sessionize` emits: bucket counts sum to the session
        count, shares sum to 1, and the single-event bucket matches
        the n_events == 1 sessions."""
        from datatransformertools_spark.operators.events import (
            events_session_stats,
            events_sessionize,
        )

        rows = events_session_stats(spark, sf_dir).collect()
        sessions = events_sessionize(spark, sf_dir)
        n_sessions = sessions.count()
        n_single = sessions.filter(F.col("n_events") == 1).count()
        assert sum(r["n_sessions"] for r in rows) == n_sessions
        assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
        single = {r["dur_bucket"]: r["n_sessions"] for r in rows}.get("0_single_event", 0)
        assert single == n_single
        for r in rows:
            if r["dur_bucket"] == "0_single_event":
                assert r["avg_duration_us"] < 1e-6
            assert r["avg_duration_us"] <= r["max_duration_us"] + 1e-6


class TestDauMauStickiness:
    def test_invariants(self, spark, sf_dir):
        """MAU dominates DAU on every day (the trailing window
        contains the day itself), so stickiness ∈ (0, 1]; the first
        feed day's trailing window holds only itself, so its
        stickiness is exactly 1."""
        from datatransformertools_spark.operators.events import (
            events_dau_mau_stickiness,
        )

        rows = events_dau_mau_stickiness(spark, sf_dir).collect()
        assert rows
        by_day = {r["day"]: r for r in rows}
        first = by_day[min(by_day)]
        assert first["dau"] == first["mau"]
        for r in rows:
            assert 0 < r["dau"] <= r["mau"]
            assert 0.0 < r["stickiness"] <= 1.0 + 1e-9


class TestFilterAblation:
    def test_grid_partitions_corpus_and_reconciles_with_funnel(self, spark, sf_dir):
        """The 2^3 grid must partition the corpus exactly (docs and
        tokens sum to the raw totals, shares to 1), and collapsing
        the grid along each axis must reproduce the single-filter
        pass counts the funnel's first stage family implies."""
        from datatransformertools_spark.operators.quality import (
            corpus_filter_ablation,
            corpus_filter_funnel,
        )

        grid = corpus_filter_ablation(spark, sf_dir).collect()
        funnel = {r["stage"]: r for r in corpus_filter_funnel(spark, sf_dir).collect()}
        raw_docs = funnel["raw"]["n_docs"]
        raw_toks = funnel["raw"]["n_tokens"]
        assert sum(r["n_docs"] for r in grid) == raw_docs
        assert sum(r["n_tokens"] for r in grid) == raw_toks
        assert abs(sum(r["doc_share"] for r in grid) - 1.0) < 1e-4
        # independent quality-pass margin == funnel's quality stage
        q_docs = sum(r["n_docs"] for r in grid if r["pass_quality"] == 1)
        assert q_docs == funnel["quality"]["n_docs"]
        # every cell key is distinct (disjoint populations)
        keys = [(r["pass_quality"], r["pass_dedup"], r["pass_length"]) for r in grid]
        assert len(keys) == len(set(keys))


class TestMinhashPermErrorCurve:
    def test_error_shrinks_with_signature_length(self, spark, sf_dir):
        """Every prefix length scores the SAME candidate pairs, and
        the h-permutation estimator's error must not grow as h grows
        (variance s(1-s)/h): RMSE strictly improves from h=2 to the
        shipped h=8."""
        from datatransformertools_spark.operators.dedup import (
            minhash_perm_error_curve,
        )

        rows = {r["n_perms"]: r for r in minhash_perm_error_curve(spark, sf_dir).collect()}
        assert set(rows) == {2, 4, 8}
        n_pairs = {r["n_pairs"] for r in rows.values()}
        assert len(n_pairs) == 1 and n_pairs.pop() > 0
        # RMSE is the variance-backed monotone metric; mean-abs can
        # invert on tiny samples (a coarse estimator outputs exact 0
        # on near-zero-truth pairs, so its MAE can undercut a finer
        # one's small-but-nonzero errors)
        assert rows[8]["rmse"] < rows[2]["rmse"]
        for r in rows.values():
            assert 0.0 <= r["mean_abs_err"] <= r["max_abs_err"] <= 1.0 + 1e-9


class TestSimhashBitBalanceAudit:
    def test_all_bits_present_and_bounded(self, spark, sf_dir):
        """48 rows (one per fingerprint bit), every doc counted in
        every row, frac/bias consistent and within [0, 0.5]."""
        from datatransformertools_spark.operators.dedup import (
            simhash_bit_balance_audit,
        )

        rows = {r["bit_no"]: r for r in simhash_bit_balance_audit(spark, sf_dir).collect()}
        assert set(rows) == set(range(48))
        n_docs = {r["n_docs"] for r in rows.values()}
        assert len(n_docs) == 1 and n_docs.pop() > 0
        for r in rows.values():
            assert 0 <= r["n_ones"] <= r["n_docs"]
            assert abs(r["frac_ones"] - r["n_ones"] / r["n_docs"]) < 1e-5
            assert 0.0 <= r["abs_bias"] <= 0.5 + 1e-9
            assert abs(r["abs_bias"] - abs(r["frac_ones"] - 0.5)) < 1e-5

    def test_bias_spread_is_informative(self, spark, sf_dir):
        """The audit's whole point is that bias is a CORPUS property
        (the synthetic fixture has a closed ~31-token vocabulary, so
        its planes are legitimately skewed — exactly what the table
        should surface). Pin only corpus-agnostic structure: biases
        vary across planes (md5 slices aren't all locked to one
        side) and at least one plane is strictly informative."""
        from datatransformertools_spark.operators.dedup import (
            simhash_bit_balance_audit,
        )

        biases = [r["abs_bias"] for r in simhash_bit_balance_audit(spark, sf_dir).collect()]
        assert len(set(biases)) > 1
        assert min(biases) < 0.5


class TestDupQualityInteraction:
    def test_bands_partition_the_corpus(self, spark, sf_dir):
        """Band doc counts sum to |documents|; every keep_rate is a
        valid rate; the no-shingle band (-1) carries a NULL mean
        dup_frac and only bands in {-1, 0..3} appear."""
        from datatransformertools_spark.operators.quality import (
            dup_quality_interaction,
        )
        from datatransformertools_spark.sources.tables import load_table

        rows = {r["dup_band"]: r for r in dup_quality_interaction(spark, sf_dir).collect()}
        assert set(rows) <= {-1, 0, 1, 2, 3}
        n_total = load_table(spark, sf_dir, "documents").count()
        assert sum(r["n_docs"] for r in rows.values()) == n_total
        for band, r in rows.items():
            assert 0.0 <= r["keep_rate"] <= 1.0 + 1e-9
            if band == -1:
                assert r["mean_dup_frac"] is None
            else:
                assert 0.0 <= r["mean_dup_frac"] <= 1.0 + 1e-9
                assert band / 4 - 1e-6 <= r["mean_dup_frac"] <= (band + 1) / 4 + 1e-6


class TestVocabHeapsLaw:
    def test_prefix_curve_is_monotone_and_fit_sane(self, spark, sf_dir):
        """Cumulative token and vocab counts are non-decreasing in
        the checkpoint index, the last checkpoint covers the whole
        corpus (thr = max doc_id), the fitted exponent lands in
        (0, 1) for natural text, and every row repeats the same
        1-row fit."""
        from datatransformertools_spark.operators.text_analysis import (
            vocab_heaps_law,
        )

        rows = sorted(vocab_heaps_law(spark, sf_dir).collect(), key=lambda r: r["ckpt"])
        assert [r["ckpt"] for r in rows] == list(range(1, 17))
        for a, b in zip(rows, rows[1:]):
            assert a["n_tokens"] <= b["n_tokens"]
            assert a["n_vocab"] <= b["n_vocab"]
            assert a["thr_doc_id"] <= b["thr_doc_id"]
        last = rows[-1]
        assert last["n_tokens"] > 0 and last["n_vocab"] > 0
        # sublinear growth: β < 1 always; β = 0 is the legitimate
        # closed-vocabulary reading (the sf0.001 fixture saturates
        # its ~31-token vocabulary at the first checkpoint)
        assert 0.0 <= last["heaps_beta"] < 1.0
        assert 0.0 <= last["heaps_r2"] <= 1.0 + 1e-9
        assert len({r["heaps_beta"] for r in rows}) == 1
        for r in rows:
            if r["n_tokens"] > 0:
                assert abs(r["type_token_ratio"] - r["n_vocab"] / r["n_tokens"]) < 1e-5


class TestEmbeddingPqDistortion:
    def test_distortion_shrinks_with_more_subspaces(self, spark, sf_dir):
        """More subspaces = finer quantization grid: mean L2
        reconstruction error must not grow from m=2 to the shipped
        m=8 (each doubling of m refines every subspace's codebook
        resolution over a shorter subvector). Face structure: one
        row per candidate m, every vector encoded in every row."""
        from datatransformertools_spark.operators.similarity import (
            embedding_pq_distortion,
        )

        rows = {r["m"]: r for r in embedding_pq_distortion(spark, sf_dir).collect()}
        assert set(rows) == {2, 4, 8}
        n_vecs = {r["n_vecs"] for r in rows.values()}
        assert len(n_vecs) == 1 and n_vecs.pop() > 0
        for r in rows.values():
            assert r["subdim"] * r["m"] == 64
            assert r["code_bits"] == r["m"] * 4
            assert 0.0 <= r["mean_l2_err"] <= r["max_l2_err"]
            assert r["mean_rel_err"] >= 0.0
        assert rows[8]["mean_l2_err"] <= rows[2]["mean_l2_err"]
        assert rows[8]["mean_rel_err"] <= rows[2]["mean_rel_err"]


class TestShardSourceMixAudit:
    def test_shards_cover_corpus_and_chi2_sane(self, spark, sf_dir):
        """Shard doc counts sum to |documents|, every shard sees the
        full source column space, max_share_dev is a valid share
        deviation, and chi2 is non-negative."""
        from datatransformertools_spark.operators.corpus import (
            N_SHARDS,
            shard_source_mix_audit,
        )
        from datatransformertools_spark.sources.tables import load_table

        rows = shard_source_mix_audit(spark, sf_dir).collect()
        assert len(rows) <= N_SHARDS
        docs = load_table(spark, sf_dir, "documents")
        assert sum(r["n_docs"] for r in rows) == docs.count()
        n_src = docs.select("source").distinct().count()
        for r in rows:
            assert r["n_sources"] == n_src
            assert r["chi2"] >= 0.0
            assert 0.0 <= r["max_share_dev"] <= 1.0


class TestCmsWidthErrorCurve:
    def test_error_shrinks_with_width(self, spark, sf_dir):
        """CMS overcount is one-sided (est >= true, so every error
        stat is >= 0) and collision error must not grow as the
        sketch widens: mean overcount at the widest candidate <=
        the narrowest."""
        from datatransformertools_spark.operators.events import cms_width_error_curve

        rows = {r["width"]: r for r in cms_width_error_curve(spark, sf_dir).collect()}
        assert set(rows) == {128, 512, 2048}
        n_keys = {r["n_keys"] for r in rows.values()}
        assert len(n_keys) == 1 and n_keys.pop() > 0
        for r in rows.values():
            assert r["depth"] == 4
            assert r["mean_overcount"] >= 0.0
            assert r["max_overcount"] >= 0
            assert r["mean_rel_overcount"] >= 0.0
        assert rows[2048]["mean_overcount"] <= rows[128]["mean_overcount"]


class TestAnnIvfCellBalance:
    def test_partition_of_index_and_tightness_bounds(self, spark, sf_dir):
        """Cells partition the index vectors (shares sum to 1, the
        imbalance factors average to 1 across cells weighted by
        count), and tightness stats are valid cosines with
        mean >= min."""
        from datatransformertools_spark.operators.similarity import (
            N_CELLS,
            N_QUERIES,
            ann_ivf_cell_balance,
        )
        from datatransformertools_spark.sources.tables import load_table

        rows = ann_ivf_cell_balance(spark, sf_dir).collect()
        assert 0 < len(rows) <= N_CELLS
        n_index = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") >= N_QUERIES)
            .count()
        )
        assert sum(r["n_vecs"] for r in rows) == n_index
        assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
        for r in rows:
            assert abs(r["imbalance"] - r["share"] * N_CELLS) < 1e-5
            assert -1.0 - 1e-9 <= r["min_cos"] <= r["mean_cos"] <= 1.0 + 1e-9


class TestSessionGapThresholdCurve:
    def test_monotone_in_threshold_and_consistent_at_shipped(self, spark, sf_dir):
        """Larger gaps merge sessions: n_sessions is non-increasing
        and mean duration/events non-decreasing in the threshold;
        the 30-minute row must equal the engine's actual
        sessionization (events_sessionize session count)."""
        from datatransformertools_spark.operators.events import (
            events_sessionize,
            session_gap_threshold_curve,
        )

        rows = sorted(
            session_gap_threshold_curve(spark, sf_dir).collect(),
            key=lambda r: r["gap_min"],
        )
        assert [r["gap_min"] for r in rows] == [5, 15, 30, 60, 120]
        for a, b in zip(rows, rows[1:]):
            assert a["n_sessions"] >= b["n_sessions"]
            assert a["mean_events_per_session"] <= b["mean_events_per_session"]
            assert a["mean_session_duration_s"] <= b["mean_session_duration_s"]
        shipped = next(r for r in rows if r["gap_min"] == 30)
        n_sessions_actual = (
            events_sessionize(spark, sf_dir)
            .select("user_id", "session_idx")
            .distinct()
            .count()
        )
        assert shipped["n_sessions"] == n_sessions_actual


class TestNeardupDetectorOverlap:
    def test_venn_partitions_the_union(self, spark, sf_dir):
        """Region counts must reproduce each detector's own pair
        count (mh = both + minhash_only, sh = both + simhash_only),
        and every scoreable Jaccard stat is a valid similarity."""
        from datatransformertools_spark.operators.dedup import (
            dedup_minhash_lsh,
            dedup_simhash,
            neardup_detector_overlap,
        )

        rows = {r["region"]: r for r in neardup_detector_overlap(spark, sf_dir).collect()}
        assert set(rows) <= {"both", "minhash_only", "simhash_only"}
        n = lambda k: rows[k]["n_pairs"] if k in rows else 0  # noqa: E731
        assert n("both") + n("minhash_only") == dedup_minhash_lsh(spark, sf_dir).count()
        assert n("both") + n("simhash_only") == dedup_simhash(spark, sf_dir).count()
        for r in rows.values():
            assert 0 <= r["n_unscoreable"] <= r["n_pairs"]
            if r["mean_true_jaccard"] is not None:
                assert 0.0 <= r["mean_true_jaccard"] <= r["max_true_jaccard"] <= 1.0 + 1e-9


class TestWinnowingDensityAudit:
    def test_density_within_winnow_bounds(self, spark, sf_dir):
        """Winnowing guarantees at least one fingerprint per window
        run and at most one NEW selection per window: distinct
        density must sit in (0, 1] and cannot exceed the window
        count; the theory column is the 2/(G+1) constant."""
        from datatransformertools_spark.operators.dedup import (
            WINNOW_G,
            winnowing_density_audit,
        )

        rows = winnowing_density_audit(spark, sf_dir).collect()
        assert rows
        theory = 2.0 / (WINNOW_G + 1)
        for r in rows:
            assert r["n_docs"] > 0
            assert 0 < r["total_fps"] <= r["total_windows"]
            assert 0.0 < r["density"] <= 1.0 + 1e-9
            assert abs(r["theory_density"] - theory) < 1e-6
            assert abs(r["density_ratio"] - r["density"] / theory) < 1e-4
