"""Physical-plan assertions — the scale contract.

Correctness tests prove the answers match; these prove the PLANS are
the ones that survive 100 TB: filters reach the parquet scan, column
pruning holds, dimension joins broadcast instead of shuffling the
fact table, and per-row operators stay shuffle-free. A regression
here is a performance bug even when every value still matches.
"""

from __future__ import annotations

import re

import pytest

from datatransformertools_spark import registry

_QUERIES = registry.queries()


def _plan(spark, sf_dir, name: str) -> str:
    return _QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


# Broadcast hints Spark cannot honor: the hinted side would have to
# be the BUILD side, but the join type must stream that side to
# preserve its unmatched rows. JoinSelection drops the hint with only
# a HintErrorLogger warning and falls back to a shuffle — the r9
# detection_eval_ap defect class. Detected statically on the
# OPTIMIZED LOGICAL plan (physical-side counting is confounded by
# ReuseExchange hiding interior broadcasts of deduplicated subtrees).
_UNPLANNABLE_HINT_PATTERNS = (
    re.compile(r"Join LeftOuter.*leftHint=\(strategy=broadcast"),
    re.compile(r"Join LeftSemi.*leftHint=\(strategy=broadcast"),
    re.compile(r"Join LeftAnti.*leftHint=\(strategy=broadcast"),
    re.compile(r"Join ExistenceJoin.*leftHint=\(strategy=broadcast"),
    re.compile(r"Join RightOuter.*rightHint=\(strategy=broadcast"),
    re.compile(r"Join FullOuter.*(left|right)Hint=\(strategy=broadcast"),
)


def _dropped_hint_lines(optimized_plan: str) -> list[str]:
    return [
        line.strip()
        for line in optimized_plan.splitlines()
        if any(p.search(line) for p in _UNPLANNABLE_HINT_PATTERNS)
    ]


def _plan_hints_only(spark, sf_dir, name: str) -> str:
    """Physical plan with AQE + size-based auto-broadcast disabled:
    every BroadcastExchange left in the plan comes from an explicit
    F.broadcast hint in the operator code. This is how we assert the
    100 TB contract — a hint forces the broadcast at ANY scale, so a
    hint on a data-sized frame is a latent OOM even when the sf0.001
    stats would make it look fine."""
    # drop tracked stage-table caches first: a cached subplan freezes
    # the physical plan it was compiled with (AQE on → runtime
    # broadcast upgrades), and InMemoryTableScan would render that
    # interior into this plan, making the hints-only assertion see
    # AQE's legitimate small-SF decisions instead of our hints. The
    # cross-query _FrameMemo frames (shingle/τ-pair stage tables)
    # live OUTSIDE release_caches() by design and freeze plans the
    # same way — if oracle-parity tests ran first in this session,
    # the memoized pair frame was built under normal conf and its
    # frozen interior carries auto-broadcast joins that are NOT
    # hints. Clear those too so the capture is conf-clean (done by
    # `_plans_hints_only`).
    return _plans_hints_only(spark, sf_dir, name)[1]


def _plans_hints_only(spark, sf_dir, name: str) -> tuple[str, str]:
    """(optimized logical, executed physical) plan strings under the
    same hints-only conf as `_plan_hints_only` (see its docstring for
    the cache/conf rationale). The logical string is where dropped
    hints are visible — JoinSelection rejects an unbuildable hint at
    PHYSICAL planning, so the logical join still carries the
    annotation while the physical plan silently lacks the exchange."""
    from datatransformertools_spark.caching import release_caches
    from datatransformertools_spark.operators.dedup import clear_dedup_memos

    release_caches()
    clear_dedup_memos()
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        qe = _QUERIES[name](spark, sf_dir)._jdf.queryExecution()
        return qe.optimizedPlan().toString(), qe.executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def test_q6_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # filter pushed into the scan
    assert "PushedFilters: [" in scan and "l_shipdate" in scan.split("PushedFilters")[1]
    # column pruning: the 11-column lineitem scan reads exactly the 4 used
    cols = re.search(r"FileScan parquet \[([^\]]*)\]", scan).group(1)
    assert len(cols.split(",")) == 4, cols


def test_q5_broadcasts_fixed_dims_only(spark, sf_dir):
    # region→nation are fixed-size (5/25 rows) → exactly those two
    # joins are hint-broadcast; customer/supplier-derived frames
    # shuffle (SortMergeJoin here; AQE upgrades them at small SF).
    plan = _plan_hints_only(spark, sf_dir, "q5_region_revenue")
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" in plan


# Engine-wide broadcast-hint contract (the §4 house rule as an
# invariant): with AQE + size-based auto-broadcast OFF, the ONLY
# queries allowed to plan a BroadcastExchange are the ones on this
# audited allowlist — and each entry here was hand-checked to hint
# nothing but a frame bounded by a CONSTANT of the query, never by
# table size: 1-row scalar aggregates, fixed dims (region=5 /
# nation=25 rows), |classes|/|types|/|sources|-bounded model frames,
# codebooks / LUTs / hyperplane shortlists, the fixed query side of
# an ANN search, or an M-bounded packed bitmap. Any new hint —
# including on an existing allowlisted query growing an extra one —
# must be audited and added here explicitly.
_HINT_BROADCAST_ALLOWLIST = {
    # 1-row scalar aggregates riding cross joins (house rule)
    "customer_rfm": 1,
    "dedup_embedding_recall": 1,  # 1-row blocked-pair count scalar
    "emb_blocking_curve": 2,  # ≤4-row level counts + 1-row exact count
    "doc_unigram_logprob": 1,
    "doc_perplexity_buckets": 1,  # 1-row corpus-total scalar
    "quality_logreg_train": 1,  # 1-row standardization scalars (feature build)
    "quality_logreg_score": 1,  # same 1-row standardization scalars
    "split_leakage_audit": 1,  # 1-row total-candidates scalar
    # 1-row ref-date scalar (appears twice: once under the feature
    # path, once under the standardization aggregate derived from
    # it) + the 1-row standardization scalars
    "customer_rfm_kmeans": 3,
    "doc_bm25_topk": 1,
    "doc_tfidf_topk": 1,
    "doc_length_percentile_filter": 1,
    "corpus_filter_funnel": 1,  # 1-row P5/P95 bounds scalar
    "corpus_filter_ablation": 1,  # 1-row P5/P95 bounds scalar (same frame)
    # 1-row max(doc_id) scalar under both 16-way fans, repeated
    # inside the 1-row OLS-fit subtree (one occurrence reused), +
    # the broadcast fit frame itself — every frame 1-row-bounded
    "vocab_heaps_law": 4,
    # PQ_CODES-row flat codebook (constants-bounded; r13 vector-grain join)
    "embedding_pq_distortion": 1,
    # |sources|-row global-mix frame (feature-bounded, nation-dim
    # precedent) riding the zero-cell grid cross join
    "shard_source_mix_audit": 1,
    # N_CELLS-row coarse codebook (constants-bounded)
    "ann_ivf_cell_balance": 1,
    # 1-row (n_users, n_events) totals scalar
    "session_gap_threshold_curve": 1,
    "orders_association_rules": 1,
    "events_value_winsorize": 1,
    "events_type_anova": 1,
    "part_abc_classification": 1,
    "customer_survival_km": 1,
    "partition_layout_audit": 1,
    "source_quality_calibration": 1,
    "order_line_count_histogram": 1,
    "events_hour_dow_heatmap": 1,
    "q9_profit_by_nation": 1,  # 25-row nation dim
    "q21_waiting_suppliers": 1,  # 25-row nation dim
    "q22_global_sales_opportunity": 1,  # 1-row avg-balance scalar
    "events_peak_detection": 1,  # 1-row global-stats scalar
    "events_drift_psi": 1,  # |bins|-row reference histogram
    "events_scd_join": 1,  # |types|-row SCD dimension
    "events_range_join_binned": 1,  # |tiers|-row range dim
    "source_temperature_weights": 1,  # |sources|-row weight frame
    "events_type_user_overlap": 2,  # |types|-row size frames
    "pmi_bigrams": 2,  # n_tok / n_big scalars
    "cross_source_overlap": 2,  # two |sources|-row size frames
    "embedding_covariance": 2,  # d-row mean frame ×2 (schema-bounded)
    "quality_token_retention": 2,  # threshold scalar + |buckets| frame
    "attribution_lag_cdf": 2,  # 1-row total + |grid| literal
    "events_next_event_eval": 2,  # |types|² model + 1-row accuracy base
    "priority_returnflag_chi2": 3,  # row/col marginals + N scalar
    "benford_first_digit_audit": 3,  # 9-row Benford literal + scalars
    "nation_trade_matrix": 5,  # nation dim hops + totals
    "source_unigram_divergence": 5,  # |sources| profiles + smoothing scalars
    "vocab_coverage_curve": 2,  # 1-row total + |grid| literal
    "q5_region_revenue": 2,  # region + nation dims
    "q7_volume_shipping": 2,  # nation dim ×2
    "q8_market_share": 3,  # region + nation ×2
    "q11_important_stock": 2,  # nation dim + 1-row threshold
    "part_triangles": 2,  # degree-cap scalar frames
    "detection_eval": 2,  # n_pred / n_gt scalars
    "detection_eval_greedy": 2,  # n_pred / n_gt scalars
    "detection_eval_sweep": 3,  # scalars + 5-row threshold literal
    # |classes|-row per-class envelope sums (the hint moved to the
    # buildable right side in r10 — previously it sat build-left on a
    # left join and was silently dropped, VERDICT r9 "What's wrong" #1)
    "detection_eval_ap": 1,
    "detection_eval_map": 1,
    "detection_eval_ap_coco": 2,  # |classes|-row GT counts + 101-row recall grid
    "batch_inference": 1,  # |classes|-row class map
    "server_pipeline": 1,  # |classes|-row class map (postprocess join)
    "ann_bruteforce_topk": 1,  # fixed query side
    "ann_lsh_topk": 1,  # fixed query side
    "ann_ivf_topk": 3,  # centroids + assignments-of-queries + query side
    "ann_pq_topk": 5,  # codebooks / LUT / query side
    "ann_ivf_pq_topk": 8,  # cells ×2, probe list, codebook ×2, LUT, shortlist, query side
    "ann_mmr_topk": 1,  # shortlist (k·|queries| bounded)
    "ann_range_search": 1,  # fixed query side
    "ann_recall_eval": 2,  # exact + approx top-k shortlists
    "knn_label_eval": 1,  # 50-row eval frame
    "embedding_quantize": 1,  # d-row codebook
    "bloom_join_prune": 4,  # M-bounded bitmap + three 1-row scalars
    # --- new in r6, all constants-bounded ---
    "priority_returnflag_mutual_info": 7,  # margins ×2, N scalar ×3, H_r/H_c scalars
    "customer_clv_forecast": 1,  # 1-row reference-date scalar
    "events_markov_anomaly": 4,  # |types|² chain (+ its |types| totals) + 1-row stats
    "source_length_ks": 3,  # |sources| frames ×2 + 1-row total
    "shard_pack_balanced": 1,  # 1-row grand-total scalar
    "orders_seasonal_decompose": 2,  # 12-row seasonal index + 1-row grand mean
    "ann_ivf_probe_curve": 6,  # codebook ×2, query side, probe grid, exact top-k (brute-force query side + shortlist)
    "events_dispersion_test": 1,  # 1-row hour-span scalar
    # --- new in r7, all constants-bounded ---
    "emb_tau_retention_curve": 2,  # ≤|τ|-row per-τ counts + 1-row corpus count
    "part_price_index": 1,  # 1-row base-year scalar
    "supplier_return_rate": 1,  # 25-row nation dim
    "source_epoch_schedule": 1,  # 1-row normalizing-totals scalar
    # --- new in r9, all constants-bounded ---
    # exact + approx top-k shortlists (query sides) + the shared
    # brute-force subplan's own N_QUERIES-row query-side broadcast,
    # visible since r12's _BF_TOPK_MEMO made the memo-cold build part
    # of this query's plan (same audited shape as the dim/quant
    # curves below) — all |queries|/k-bounded
    "ann_ndcg_eval": 3,
    # --- new in r10 ---
    # segment query side + exact-truth hint + the reused brute-force
    # subplan's own query-side broadcast, all |queries|/k-bounded
    "ann_dim_recall_curve": 3,
    # same three |queries|/k-bounded broadcasts as the dim curve
    "ann_quantization_recall_curve": 3,
    "token_budget_sample": 1,  # ≤1-row-per-source boundary-bucket frame
    "token_budget_curve": 7,  # |grid| frame ×3, |sources|·|grid| boundary ×2, 1-row totals, cand union
    "lsh_tables_recall_curve": 4,  # query side, |tables| grid, exact top-k, bf query side
}


def test_registry_sweep_no_unaudited_broadcast_hints(spark, sf_dir):
    """Iterate the WHOLE registry with AQE + auto-broadcast off:
    every BroadcastExchange left is a hard-coded hint, and each must
    be on the audited constants-bounded allowlist with exactly the
    audited count. More hints than audited = a new unreviewed
    broadcast slipped in; fewer = the allowlist is stale. This is
    the test that catches the next SF-scaled `F.broadcast(...)`
    before it ships (the r3 `bloom_join_prune` defect class).

    The same sweep also asserts NO hint is silently dropped: a
    broadcast hint on a side the join type cannot build (build-left
    on a left outer/semi/anti, build-right on a right outer, either
    side of a full outer) is discarded by JoinSelection with only a
    JVM-log HintErrorLogger warning — the intended broadcast quietly
    becomes a shuffle (the r9 detection_eval_ap defect,
    evaluation.py:718 pre-fix). Here that shape fails the test
    instead of scrolling past in a log. Scope: every BATCH plan in
    the registry; streaming queries run their own drain when called,
    so their pre-sink plans are out of reach — the source-level twin
    (test_no_hinted_caller_outer_joins_in_source) covers them."""
    bad = []
    dropped = []
    for name in _QUERIES:
        if name.startswith("events_stream_"):
            continue  # memory-sink aggregates; plans not informative
        opt, plan = _plans_hints_only(spark, sf_dir, name)
        n = plan.count("BroadcastExchange")
        expected = _HINT_BROADCAST_ALLOWLIST.get(name, 0)
        if n != expected:
            bad.append(f"{name}: {n} BroadcastExchange (audited: {expected})")
        for line in _dropped_hint_lines(opt):
            dropped.append(f"{name}: {line}")
    assert not bad, "unaudited broadcast hints:\n" + "\n".join(bad)
    assert not dropped, (
        "broadcast hints Spark cannot plan (unbuildable side — the hint "
        "is silently dropped; move it to the probe side or remove it):\n"
        + "\n".join(dropped)
    )


def _scan_balanced(src: str, open_idx: int, limit: int = 4000) -> int:
    """Index just past the ')' matching the '(' at `open_idx`, or
    open_idx + limit if unbalanced within the bound."""
    depth = 0
    end = min(len(src), open_idx + limit)
    for i in range(open_idx, end):
        ch = src[i]
        depth += (ch == "(") - (ch == ")")
        if depth == 0:
            return i + 1
    return end


def find_hinted_caller_outer_joins(src: str) -> list[int]:
    """Line numbers where a `F.broadcast(…)` call (nested parens
    handled by balance-scanning) is immediately the CALLER of a
    .join(…) whose argument list carries a join-type literal the
    caller side cannot build (left outer/full outer/semi/anti —
    right outer is allowed: BuildLeft is legal for RightOuter). Matches whose line is commented out before the match
    are skipped (prose may quote the banned shape). Known limits,
    accepted for a lint: a hint bound to a variable first, or a '#'
    inside a string literal earlier on the same line, escape."""
    import re as _re

    # right/right_outer are NOT banned: the hinted caller is the
    # LEFT side, and JoinSelection allows BuildLeft for RightOuter —
    # Spark plans that hint (ADVICE r10). "outer"/"full" stay banned
    # (neither side of a full outer can build), as do left*/semi/anti
    # (the caller would have to be the build side and cannot be).
    bad_type = _re.compile(
        r"""["'](?:left|left_outer|leftouter|"""
        r"""full|full_outer|fullouter|outer|semi|left_semi|leftsemi|"""
        r"""anti|left_anti|leftanti)["']"""
    )
    hits = []
    for m in _re.finditer(r"F\.broadcast\(", src):
        line_start = src.rfind("\n", 0, m.start()) + 1
        if "#" in src[line_start : m.start()]:
            continue  # commented-out / prose occurrence
        after_broadcast = _scan_balanced(src, m.end() - 1)
        join = _re.match(r"\s*\.join\(", src[after_broadcast:])
        if not join:
            continue
        join_open = after_broadcast + join.end() - 1
        join_close = _scan_balanced(src, join_open)
        if bad_type.search(src[join_open:join_close]):
            hits.append(src[: m.start()].count("\n") + 1)
    return hits


def test_no_hinted_caller_outer_joins_in_source():
    """Source-level twin of the dropped-hint sweep, covering the code
    the PLAN sweep cannot: streaming queries execute their own
    writeStream drain when called, so their pre-sink plans never
    reach _plans_hints_only — a `F.broadcast(x).join(y, …,
    "left")`-shaped hint there would be dropped invisibly. Ban the
    shape package-wide: a broadcast-hinted frame must never be the
    CALLER of a left-outer/full-outer/semi/anti join (the caller is
    the left side, which those join types cannot build). Inner and
    right-outer joins with a hinted caller are fine (BuildLeft is
    legal for Inner and RightOuter — ADVICE r10) and the plan sweep
    still verifies every batch hint realizes."""
    from pathlib import Path

    import datatransformertools_spark as pkg

    pkg_root = Path(pkg.__file__).parent
    offenders = []
    for path in sorted(pkg_root.rglob("*.py")):
        for line in find_hinted_caller_outer_joins(path.read_text()):
            offenders.append(f"{path.relative_to(pkg_root)}:{line}")
    assert not offenders, (
        "broadcast-hinted frame used as the caller of an outer/semi/anti "
        "join (Spark cannot build the left side — the hint is silently "
        f"dropped): {offenders}"
    )


def test_hinted_caller_lint_catches_nested_and_spares_clean():
    """Pin the lint itself: nested parens inside the broadcast
    argument (the dominant style here) must be caught, hash-strings
    inside the call must not corrupt the scan, commented-out shapes
    and hinted INNER joins must pass."""
    bad_nested = 'x = F.broadcast(dim.select("k", "v")).join(stream, "k", "left")\n'
    bad_hash = 'x = F.broadcast(tag(f("#"))).join(y, cond, "left_outer")\n'
    ok_inner = 'x = F.broadcast(dim.select("k")).join(stream, "k")\n'
    ok_comment = '# F.broadcast(a).join(b, "k", "left") — the banned shape\n'
    ok_right_side = 'x = stream.join(F.broadcast(dim), "k", "left")\n'
    # hinted CALLER of a right-outer join: the caller is the left
    # side and RightOuter allows BuildLeft — Spark honors the hint,
    # so the lint must not flag it (ADVICE r10)
    ok_right_join = 'x = F.broadcast(dim.select("k")).join(fact, "k", "right")\n'
    ok_right_outer = 'x = F.broadcast(dim).join(fact, cond, "right_outer")\n'
    assert find_hinted_caller_outer_joins(bad_nested) == [1]
    assert find_hinted_caller_outer_joins(bad_hash) == [1]
    assert find_hinted_caller_outer_joins(ok_inner) == []
    assert find_hinted_caller_outer_joins(ok_comment) == []
    assert find_hinted_caller_outer_joins(ok_right_side) == []
    assert find_hinted_caller_outer_joins(ok_right_join) == []
    assert find_hinted_caller_outer_joins(ok_right_outer) == []


def test_dropped_hint_detector_catches_unbuildable_sides(spark):
    """Pin the detector: a build-left hint on a left outer join is
    flagged; the same hint moved to the buildable right side is not.
    (Synthetic frames — the registry sweep applies the detector to
    every real query.)"""
    from pyspark.sql import functions as F

    left = spark.range(10).withColumnRenamed("id", "k")
    right = spark.range(5).withColumnRenamed("id", "k").withColumn("v", F.lit(1))
    bad = F.broadcast(left).join(right, "k", "left")
    good = left.join(F.broadcast(right), "k", "left")
    bad_opt = bad._jdf.queryExecution().optimizedPlan().toString()
    good_opt = good._jdf.queryExecution().optimizedPlan().toString()
    assert _dropped_hint_lines(bad_opt), bad_opt
    assert not _dropped_hint_lines(good_opt), good_opt


def test_q7_broadcasts_nation_only(spark, sf_dir):
    # the two 25-row nation hops are the only hinted broadcasts;
    # supp_n/cust_n (customer/supplier-scale) shuffle-join.
    plan = _plan_hints_only(spark, sf_dir, "q7_volume_shipping")
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" in plan


def test_text_ops_are_shuffle_free(spark, sf_dir):
    for name in ("text_stats", "text_quality", "lang_id", "token_count_bpe", "doc_fingerprint"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"


def test_dedup_exact_single_shuffle_no_text(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_exact")
    assert plan.count("Exchange") == 1
    # the exchange moves (hash, doc_id) — never the text column
    exchange_line = next(l for l in plan.splitlines() if "Exchange" in l)
    assert not re.search(r"\btext#\d", exchange_line), exchange_line


def test_ann_bruteforce_broadcasts_queries(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ann_bruteforce_topk")
    # the tiny query side must broadcast; a shuffled cartesian is the
    # plan that dies at scale
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_dedup_embedding_self_join_keys_on_cluster(spark, sf_dir):
    """The embedding-dedup self-join must be keyed on the k-means
    cell (block size bounded, cells ∝ N), never on the raw label
    alone — label cardinality is 10 and FIXED, so a label-keyed
    self-join grows O((N/10)²) pairs with the corpus (the r4
    quadratic-join defect, VERDICT r4 #3)."""
    plan = _plan_hints_only(spark, sf_dir, "dedup_embedding")
    join_line = next(
        l for l in plan.splitlines() if "SortMergeJoin" in l or "ShuffledHashJoin" in l
    )
    assert re.search(r"\bcluster#\d", join_line), join_line


def test_salted_join_no_skew_single_key(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_skew_join_salted")
    # join key must include the salt column, not user_id alone
    join_line = next(l for l in plan.splitlines() if "Join" in l and "salt" in l)
    assert join_line


def test_unigram_logprob_vocab_never_hint_broadcast(spark, sf_dir):
    # the vocabulary and the per-token frame both grow with the
    # corpus; only the 1-row corpus total may broadcast
    plan = _plan_hints_only(spark, sf_dir, "doc_unigram_logprob")
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan  # 1-row total
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" in plan


def test_vocab_topk_no_global_sort(spark, sf_dir):
    # top-V must plan as TakeOrderedAndProject (per-partition top-V
    # + V-row merge), never a full sort of the vocabulary
    plan = _plan(spark, sf_dir, "vocab_topk")
    assert "TakeOrderedAndProject" in plan, plan


def test_rolling_avg_single_user_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_rolling_avg")
    assert plan.count("Exchange") == 1, plan


def test_market_basket_two_shuffles_no_broadcast(spark, sf_dir):
    # basket-explode shape: groupBy(orderkey) + pair aggregate —
    # exactly two exchanges, pair fan-out map-side, no joins at all
    plan = _plan_hints_only(spark, sf_dir, "orders_market_basket")
    assert "BroadcastExchange" not in plan, plan
    assert plan.count("Exchange") == 2, plan


def test_customer_rfm_broadcasts_only_ref_date(spark, sf_dir):
    # customer grows with SF → shuffle join; the single allowed
    # broadcast is the 1-row reference-date aggregate
    plan = _plan_hints_only(spark, sf_dir, "customer_rfm")
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_bm25_vocab_never_hint_broadcast(spark, sf_dir):
    # df/dl frames grow with the corpus; only the 1-row (N, avgdl)
    # stats frame may broadcast
    plan = _plan_hints_only(spark, sf_dir, "doc_bm25_topk")
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_anomaly_zscore_single_shuffle(spark, sf_dir):
    # mean and stddev share one (user,type) window exchange
    plan = _plan(spark, sf_dir, "events_anomaly_zscore")
    assert plan.count("Exchange") == 1, plan


def test_transition_matrix_single_user_shuffle(spark, sf_dir):
    # one user_id exchange for the lead() window; the final
    # |types|²-row aggregate combines map-side before its exchange
    plan = _plan(spark, sf_dir, "events_transition_matrix")
    assert plan.count("Exchange") == 2, plan


def test_column_profile_expand_multi_distinct(spark, sf_dir):
    # all six columns profile in ONE pass: the multi-distinct plans
    # as a single Expand (row fan-out per column) with map-side
    # partial aggregation — no per-column rescans of the table
    plan = _plan(spark, sf_dir, "events_column_profile")
    assert plan.count("Expand") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_q11_broadcasts_nation_and_scalar_only(spark, sf_dir):
    # the 25-row nation dim and the 1-row threshold aggregate are the
    # only hinted broadcasts; the nation's supplier-key frame and the
    # per-part aggregate (both grow with SF) shuffle.
    plan = _plan_hints_only(spark, sf_dir, "q11_important_stock")
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row threshold cross join
    assert "SortMergeJoin" in plan  # lineitem ⋉ supplier-keys semi-join


def test_q16_q20_never_hint_broadcast(spark, sf_dir):
    # part/supplier/lineitem-derived frames all grow with SF — no
    # broadcast hints anywhere; AQE may upgrade at runtime from stats.
    for name in ("q16_supplier_count", "q20_dominant_suppliers"):
        plan = _plan_hints_only(spark, sf_dir, name)
        assert "BroadcastExchange" not in plan, f"{name} force-broadcasts:\n{plan}"


def test_q20_date_filter_pushed_down(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q20_dominant_suppliers")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l and "l_shipdate" in l]
    assert any("PushedFilters: [" in s and "l_shipdate" in s.split("PushedFilters")[1] for s in scans), plan


def test_audits_never_hint_broadcast(spark, sf_dir):
    # both audits collapse facts to per-key counts before joining;
    # neither side is constants-bounded, so no broadcast hints.
    for name in ("key_skew_profile", "referential_integrity_audit"):
        plan = _plan_hints_only(spark, sf_dir, name)
        assert "BroadcastExchange" not in plan, f"{name} force-broadcasts:\n{plan}"


def test_eval_scalars_broadcast_pairs_shuffle(spark, sf_dir):
    # The evaluation family's 1-row scalar aggregates (n_pred, n_gt,
    # tp) must ride as hinted broadcast frames (house rule) — with
    # AQE off the cross joins still plan as BroadcastNestedLoopJoin,
    # never a 1-row shuffle join. The pred⋈gt pairs join is
    # image-keyed and scale-sized, so it must NOT be hint-broadcast.
    for name, n_scalar in (
        ("detection_eval", 2),
        ("detection_eval_greedy", 2),
        ("detection_eval_sweep", 3),  # +1 for the 5-row threshold literal
    ):
        plan = _plan_hints_only(spark, sf_dir, name)
        assert plan.count("BroadcastNestedLoopJoin") == n_scalar, f"{name}:\n{plan}"
        assert "BroadcastHashJoin" not in plan, f"{name} hint-broadcasts a scale frame:\n{plan}"


def test_shingle_df_cap_before_self_join(spark, sf_dir):
    # jaccard/containment must apply the MAX_SHINGLE_DF window guard
    # BEFORE the shingle self-join: the plan carries the df filter
    # (window count alias) and the join itself stays a shuffled
    # SortMergeJoin on the shingle key.
    for name in ("dedup_ngram_jaccard", "dedup_containment"):
        plan = _plan_hints_only(spark, sf_dir, name)
        assert "BroadcastExchange" not in plan, f"{name} force-broadcasts:\n{plan}"
        assert re.search(r"\(df#\d+L? <= 50\)", plan), f"{name} lost the DF cap:\n{plan}"


def test_dedup_incremental_never_shuffles_text(spark, sf_dir):
    # the drop/corpus comparison moves (16-byte md5, doc_id) only —
    # the raw `text` attribute (rendered `text#N`, distinct from
    # `text_hash#N`) must never reach an exchange
    plan = _plan(spark, sf_dir, "dedup_incremental")
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_no_data_scale_driver_collects(spark, sf_dir):
    """Engine-wide scale contract: BUILDING any query may pull only
    bounded frames to the driver. Iterative fits legitimately
    collect between rounds — centroids (K·DIM), the covariance
    upper triangle (d(d+1)/2), 1-row argmax/convergence scalars —
    all cluster-size- and data-size-independent. A collect whose
    row count grows with the table is the operator silently
    un-distributing itself; this pins every call site under a hard
    cap. (take/head/first funnel through collect in PySpark, so one
    intercept covers them.)"""
    from pyspark.sql import DataFrame

    cap = 5_000  # >> d(d+1)/2 = 2080 (the largest legitimate fit frame)
    orig = DataFrame.collect
    seen: dict[str, list[int]] = {}
    current: list[str | None] = [None]

    def counting(self):
        rows = orig(self)
        if current[0] is not None:
            seen.setdefault(current[0], []).append(len(rows))
        return rows

    DataFrame.collect = counting
    try:
        for name, fn in _QUERIES.items():
            if name.startswith("events_stream_"):
                continue  # streams drain through sinks, not collect
            current[0] = name
            fn(spark, sf_dir)
        current[0] = None
    finally:
        DataFrame.collect = orig
    bad = {n: cs for n, cs in seen.items() if any(c > cap for c in cs)}
    assert not bad, f"data-scale driver collects: {bad}"


@pytest.fixture(scope="module")
def batch_plans(spark, sf_dir) -> dict[str, str]:
    """Executed plan of every registered batch query, built once and
    shared by the engine-wide sweeps below. Streaming queries are
    exercised by their own tests — their returned frame is a
    memory-sink aggregate, so their plan here is not informative."""
    return {
        name: fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for name, fn in _QUERIES.items()
        if not name.startswith("events_stream_")
    }


def test_global_plan_hygiene(batch_plans):
    """Engine-wide scale contract: NO query may plan a cartesian
    product or a row-at-a-time Python UDF (BatchEvalPython). Arrow
    kernels (FlatMapGroupsInPandas / MapInPandas / MapInArrow) are
    the sanctioned Python path."""
    for name, plan in batch_plans.items():
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian:\n{plan[:2000]}"
        assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF:\n{plan[:2000]}"


_ARROW_KERNELS = ("MapInPandas", "FlatMapGroupsInPandas", "MapInArrow")


def _plan_tree(plan: str) -> list[tuple[str, list[int]]]:
    """Parse a physical-plan tree string into (operator line, child
    indices) nodes, in pre-order. A node's depth is the column where
    its operator name starts, after the `:- ` / `+- ` / `:  ` tree
    markers."""
    nodes: list[tuple[str, list[int]]] = []
    stack: list[tuple[int, int]] = []  # (depth, node index)
    for line in plan.splitlines():
        op = line.lstrip(" :|+-")
        if not op:
            continue
        depth = len(line) - len(op)
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if stack:
            nodes[stack[-1][1]][1].append(len(nodes))
        stack.append((depth, len(nodes)))
        nodes.append((op, []))
    return nodes


def _arrow_kernel_violations(plan: str) -> list[str]:
    """For each Arrow kernel, walk every path down to its nearest
    exchange: that exchange must not be a fixed-count repartition,
    and no other Arrow kernel may sit in between."""
    nodes = _plan_tree(plan)
    bad = []
    for i, (op, _) in enumerate(nodes):
        if not op.startswith(_ARROW_KERNELS):
            continue
        todo = list(nodes[i][1])
        while todo:
            below, children = nodes[todo.pop()]
            if "Exchange" in below:
                if "REPARTITION_BY_NUM" in below:
                    bad.append(f"fixed-count exchange under {op[:60]}: {below[:120]}")
            elif below.startswith(_ARROW_KERNELS):
                bad.append(f"stacked Arrow kernels: {op[:60]} over {below[:60]}")
            else:
                todo.extend(children)
    return bad


def test_arrow_kernels_one_round_trip_per_partition(batch_plans):
    """Engine-wide Python-stage contract: every Python task pays a
    fixed start-up cost whatever its input size, so each Arrow
    kernel must run once per partition of a byte-sized input. The
    nearest exchange below a kernel must be key-only (AQE coalesces
    it by bytes), never a fixed-count REPARTITION_BY_NUM that starts
    idle Python workers on a small input and caps a large one; and
    no second Arrow kernel may sit between them (two kernels in one
    task start two Python runners and move the intermediate rows
    through Arrow twice)."""
    bad = {}
    for name, plan in batch_plans.items():
        violations = _arrow_kernel_violations(plan)
        if violations:
            bad[name] = violations
    assert not bad, "Arrow-kernel stages off the contract:\n" + "\n".join(
        f"{n}: {v}" for n, vs in sorted(bad.items()) for v in vs
    )


def test_arrow_kernel_contract_catches_fixed_fanout_and_stacking():
    """The plan walk flags both shapes it guards and spares a
    key-only exchange and a kernel fed straight by a scan."""
    fixed = (
        "MapInPandas f(a#1)#2, [b#3], false\n"
        "+- Exchange hashpartitioning(a#1, 8), REPARTITION_BY_NUM, [plan_id=1]\n"
        "   +- FileScan parquet [a#1]\n"
    )
    stacked = (
        "MapInPandas g(b#3)#4, [c#5], false\n"
        "+- MapInPandas f(a#1)#2, [b#3], false\n"
        "   +- Exchange hashpartitioning(a#1, 8), REPARTITION_BY_COL, [plan_id=1]\n"
        "      +- FileScan parquet [a#1]\n"
    )
    clean = (
        "BroadcastHashJoin [b#3], [b#6], Inner, BuildRight, false\n"
        ":- MapInPandas f(a#1)#2, [b#3], false\n"
        ":  +- Exchange hashpartitioning(a#1, 8), REPARTITION_BY_COL, [plan_id=1]\n"
        ":     +- Exchange hashpartitioning(a#1, 8), REPARTITION_BY_NUM, [plan_id=2]\n"
        ":        +- FileScan parquet [a#1]\n"
        "+- BroadcastExchange HashedRelationBroadcastMode(List(input[0, int, false]),false)\n"
        "   +- MapInArrow h(b#6)#7, [b#6], false\n"
        "      +- FileScan parquet [b#6]\n"
    )
    assert len(_arrow_kernel_violations(fixed)) == 1
    assert len(_arrow_kernel_violations(stacked)) == 1
    assert _arrow_kernel_violations(clean) == []


# --- round-3 operator plan contracts ---------------------------------------


def test_pmi_vocab_never_hint_broadcast(spark, sf_dir):
    # bigram/unigram count frames are vocabulary-scale (grow with the
    # corpus) — only the two 1-row total aggregates may broadcast
    plan = _plan_hints_only(spark, sf_dir, "pmi_bigrams")
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan  # n_tok, n_big scalars
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" in plan, plan


def test_oov_vocab_never_hint_broadcast(spark, sf_dir):
    plan = _plan_hints_only(spark, sf_dir, "oov_rate_by_source")
    assert "BroadcastExchange" not in plan, plan
    assert "SortMergeJoin" in plan, plan


def test_paragraph_dedup_no_text_in_exchange(spark, sf_dir):
    # shuffles carry (16-byte hash, ids, counts) — never paragraph text
    plan = _plan(spark, sf_dir, "paragraph_dedup")
    for line in plan.splitlines():
        if "Exchange" in line:
            assert not re.search(r"\bpara#\d", line), line
            assert not re.search(r"\btext#\d", line), line


def test_cross_source_overlap_broadcasts_sizes_only(spark, sf_dir):
    # the two |sources|-row size frames are the only hinted
    # broadcasts; the shingle self-join must shuffle on the shingle
    plan = _plan_hints_only(spark, sf_dir, "cross_source_overlap")
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" in plan, plan


def test_ewma_single_user_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_ewma")
    assert plan.count("Exchange") == 1, plan


def test_ohlc_single_shuffle(spark, sf_dir):
    # partial-agg before the one (window, type) exchange
    plan = _plan(spark, sf_dir, "events_ohlc")
    assert plan.count("Exchange") == 1, plan
    assert "partial_" in plan or "HashAggregate" in plan, plan


def test_attribution_has_no_join(spark, sf_dir):
    # last-touch attribution is one window pass — the as-of
    # self-join explosion must never appear
    plan = _plan(spark, sf_dir, "events_attribution")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_upsert_merge_never_hint_broadcast(spark, sf_dir):
    # a CDC batch can be snapshot-sized (backfill) — no hints
    plan = _plan_hints_only(spark, sf_dir, "orders_upsert_merge")
    assert "BroadcastExchange" not in plan, plan


def test_covariance_broadcasts_means_only(spark, sf_dir):
    # the d-row mean frame (schema-bounded) is the only hinted
    # broadcast; the product grain must partial-aggregate map-side
    plan = _plan_hints_only(spark, sf_dir, "embedding_covariance")
    assert plan.count("BroadcastHashJoin") == 2, plan  # mean_i, mean_j
    assert "partial" in plan.lower(), plan


def test_user_event_features_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "user_event_features")
    assert plan.count("Exchange") == 1, plan


def test_ap_envelope_no_shrinking_frame(spark, sf_dir):
    # the precision envelope must be the O(n) running max over the
    # reversed ordering — a CURRENT->UNBOUNDED FOLLOWING frame is
    # recomputed per row by WindowExec (O(n^2) per class partition)
    for name in ("detection_eval_ap", "detection_eval_map", "detection_eval_ap_coco"):
        plan = _plan(spark, sf_dir, name)
        assert "unboundedfollowing" not in plan.lower(), f"{name}:\n{plan}"


def test_pca_invariants_single_scalar_aggregate(spark, sf_dir):
    # the data-side verification pass collapses to ONE global 1-row
    # aggregate (2 avgs per component) with map-side partials — no
    # join, no per-row Python, exactly one SinglePartition exchange
    plan = _plan(spark, sf_dir, "embedding_pca_invariants")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "partial" in plan.lower(), plan


def test_minhash_verify_prunes_before_text_join(spark, sf_dir):
    # the edit-distance verify stage must semi-join-prune the corpus
    # to candidate doc_ids before any text join: the plan carries a
    # LeftSemi against the candidate-id frame, and no exchange ever
    # moves the raw `text` attribute (only pruned `norm` strings).
    plan = _plan(spark, sf_dir, "dedup_minhash_verify")
    assert "LeftSemi" in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_truth_jaccard_joins_are_pair_driven(spark, sf_dir):
    """VERDICT r8 #1 discipline, pinned: every TRUE-Jaccard tuning
    companion must drive the shingle intersection FROM the candidate
    pair list — join keyed on doc_a, then on (doc_b, shingle) — so
    shingle work is Σ_pairs |shingles|. An open shingle=shingle
    self-join (single-key join on the shingle) fans out
    quadratically on one hot shingle among candidate members; it is
    allowed only under the DF-capped index (dedup_ngram_jaccard /
    dedup_containment), never in the truth family, whose whole point
    is UNCAPPED shingle sets.

    simhash_hamming_curve left this list in r13 after re-audit: its
    Jaccard verification reads the DF-CAPPED index (per its own
    docstring), which is exactly the case the doctrine above allows —
    and its banded candidate set (731k pairs at sf0.1) made the
    pair-driven probe 35× LARGER than the capped inverted index
    (46M vs 1.3M rows, measured; dedup._co_shingle_counts). The two
    UNCAPPED truth consumers stay pinned."""
    open_self_join = re.compile(r"Join \[shingle#\d+\], \[shingle#\d+\]")
    for name in (
        "minhash_perm_error_curve",
        "neardup_detector_overlap",
    ):
        plan = _plan(spark, sf_dir, name)
        assert not open_self_join.search(plan), f"{name}: open shingle self-join\n{plan}"


def test_minhash_family_shares_memoized_pair_frame(spark, sf_dir):
    """The five minhash consumers must all read the ONE persisted
    candidate-pair stage table (`_minhash_pairs_df`) instead of each
    rebuilding signature + band explode + self-join: after any one
    of them plans, the others' executed plans carry an
    InMemoryTableScan and no band_key join of their own."""
    from datatransformertools_spark.operators.dedup import (
        _MINHASH_PAIRS_MEMO,
        clear_dedup_memos,
    )

    clear_dedup_memos()
    _plan(spark, sf_dir, "dedup_minhash_lsh")  # builds the memo entry
    assert len(_MINHASH_PAIRS_MEMO._frames) == 1
    for name in ("dedup_minhash_verify", "dedup_lsh_quality", "minhash_perm_error_curve"):
        plan = _plan(spark, sf_dir, name)
        # the scan node proves the consumer reads the persisted stage
        # table (the InMemoryRelation legitimately RENDERS its stored
        # band-join build plan inside the scan subtree — that is the
        # one build, not a rebuild)
        assert "InMemoryTableScan" in plan, f"{name} not reading the memo:\n{plan}"
    # one (session, sf_dir) entry serves all consumers — nobody
    # built a second keyed copy
    assert len(_MINHASH_PAIRS_MEMO._frames) == 1


def test_simhash_family_shares_memoized_pair_frame(spark, sf_dir):
    """Same contract as the minhash memo, simhash side: after one
    consumer plans, the other candidate consumers read the persisted
    (doc_a, doc_b, hamming) stage table, and `simhash_bit_balance_audit`
    reads the persisted fingerprint table — one build each per
    (session, sf_dir)."""
    from datatransformertools_spark.operators.dedup import (
        _SIMHASH_FP_MEMO,
        _SIMHASH_PAIRS_MEMO,
        clear_dedup_memos,
    )

    clear_dedup_memos()
    _plan(spark, sf_dir, "dedup_simhash")  # builds fp + pair memo entries
    assert len(_SIMHASH_PAIRS_MEMO._frames) == 1
    assert len(_SIMHASH_FP_MEMO._frames) == 1
    for name in ("simhash_hamming_curve", "simhash_bit_balance_audit"):
        plan = _plan(spark, sf_dir, name)
        assert "InMemoryTableScan" in plan, f"{name} not reading the memo:\n{plan}"
    assert len(_SIMHASH_PAIRS_MEMO._frames) == 1
    assert len(_SIMHASH_FP_MEMO._frames) == 1


def test_knn_eval_broadcasts_fixed_query_frame(spark, sf_dir):
    # the 50-row eval frame is fixed-size → it must broadcast by
    # explicit hint (corpus side streams, never exchanges for the
    # cross join)
    plan = _plan_hints_only(spark, sf_dir, "knn_label_eval")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_length_percentile_scalar_broadcast(spark, sf_dir):
    # the P5/P95 1-row aggregate rides as a broadcast scalar frame
    # (house rule) even with AQE off
    plan = _plan_hints_only(spark, sf_dir, "doc_length_percentile_filter")
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_gopher_filter_never_shuffles_text(spark, sf_dir):
    # the dominance-rule count is the only exchange and it carries
    # (doc_id, word) — never the document text
    plan = _plan(spark, sf_dir, "gopher_quality_filter")
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_partitioned_write_prune_directory_pruning(spark, sf_dir):
    # the read-back scan must prune at the directory level: the
    # event_type predicate appears in PartitionFilters (not pushed
    # as a data filter) and the scan reads exactly one partition
    # value's files
    plan = _plan(spark, sf_dir, "partitioned_write_prune")
    assert re.search(r"PartitionFilters: \[[^\]]*event_type", plan), plan


def test_price_elasticity_aggregates_before_join(spark, sf_dir):
    # demand collapses to one row per part BEFORE joining part: the
    # join inputs are aggregates, so no exchange carries lineitem's
    # l_quantity rows post-join
    plan = _plan_hints_only(spark, sf_dir, "part_price_elasticity")
    assert "BroadcastExchange" not in plan, plan  # nothing hinted


def test_bloom_prune_broadcasts_only_bounded_frames(spark, sf_dir):
    """The Bloom packed bitmap (8Ki words) and the scalar count frames
    are the only hinted broadcasts; the fact side is probed
    map-side — no fact-keyed exchange before the pass decision."""
    plan = _plan_hints_only(spark, sf_dir, "bloom_join_prune")
    assert "BroadcastNestedLoopJoin" in plan  # bit-set rides a 1-row cross join
    # the probe itself is an array_contains projection, not a join
    assert "shiftright" in plan  # O(1) bit test, not array_contains


def test_substring_spans_semi_join_and_no_text_shuffle(spark, sf_dir):
    """Duplicated-window detection: the hot-hash gate is a LeftSemi
    join keyed on the md5, and no exchange carries the text column."""
    plan = _plan(spark, sf_dir, "dedup_substring_spans")
    assert "LeftSemi" in plan
    for line in plan.splitlines():
        if "Exchange" in line and "text#" in line:
            raise AssertionError(f"text column reached an exchange: {line}")


def test_trailing_1h_single_user_exchange(spark, sf_dir):
    """The RANGE frame costs exactly one hashpartitioning(user_id)
    exchange."""
    plan = _plan(spark, sf_dir, "events_trailing_1h")
    n_exchanges = sum(
        1 for l in plan.splitlines() if "Exchange hashpartitioning(user_id" in l
    )
    assert n_exchanges == 1, plan


def test_sentence_stats_shuffle_free(spark, sf_dir):
    """Sentence shape is a pure scan-local projection: no exchange
    anywhere in the plan."""
    plan = _plan(spark, sf_dir, "sentence_stats")
    assert "Exchange" not in plan, plan


def test_overlap_chain_no_text_in_exchange(spark, sf_dir):
    """Fragment-reassembly edges: each doc collapses map-side to two
    16-byte boundary hashes — the raw text must never reach an
    exchange, and the DF-cap windows + edge join are the only
    shuffles."""
    plan = _plan(spark, sf_dir, "dedup_overlap_chain")
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def _top_level_text_scans(plan: str) -> list[str]:
    """FileScan-parquet lines reading `text` that are NOT inside an
    InMemoryTableScan/InMemoryRelation printed cached subtree — i.e.
    scans the plan actually executes (cached interiors print per
    consumer but run once at materialization). Returns the matching
    lines so an assertion failure names the extra scans instead of
    dumping the whole plan."""

    def indent(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    cached_indents: list[int] = []
    hits: list[str] = []
    for line in plan.splitlines():
        ind = indent(line)
        cached_indents = [i for i in cached_indents if i < ind]
        if "InMemoryTableScan" in line or "InMemoryRelation" in line:
            cached_indents.append(ind)
        if "FileScan parquet" in line and "text" in line and not cached_indents:
            hits.append(line.strip()[:160])
    return hits


def test_curation_pipeline_stage_fusion(spark, sf_dir):
    """The composed curation chain (VERDICT r10 "What's missing" #3)
    must actually FUSE, not re-run each stage's upstream:

    - text leaves the parquet scan AT MOST twice (the quality
      projection and the tokenize explode; session cache
      substitution can absorb the quality scan into an
      InMemoryRelation, leaving just one live) — every other
      consumer reads a per-doc scalar stage table. Without the
      tracked stage boundaries the survivor subtree re-expands ~6×
      (38 text scans in the tree pre-fix) and the 100 TB run
      re-pays the scan + quality regex each time.
    - the shingle index and the minhash candidate-pair table are
      consumed from cache (the SAME memoized stage tables the
      standalone dedup/contamination ops read — the shingle explode
      is paid once for signatures AND decontamination), and the
      survivors/comp/keepers/clean boundaries are cached too:
      InMemoryTableScans must be present in numbers.
    - exactly two Windows: the |V|-row vocab rank (catalog-bounded
      exemption, same as tokenize_to_ids) and the per-source pack
      window. Nothing else may sort the corpus.
    - never a cartesian product.

    State-normalized capture: tracked stage tables + dedup memos are
    cleared first (the _plans_hints_only prelude) so the assertion
    reads THIS query's plan, not whatever materialized cache plans
    300 earlier suite tests left in the CacheManager (a materialized
    InMemoryRelation prints its AQE-executed interior, which the
    line-indent scan parser must not misread as live scans).
    """
    from datatransformertools_spark.caching import release_caches
    from datatransformertools_spark.operators.corpus import corpus_curation_pipeline
    from datatransformertools_spark.operators.dedup import clear_dedup_memos

    release_caches()
    clear_dedup_memos()
    plan = corpus_curation_pipeline(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    scans = _top_level_text_scans(plan)
    assert 1 <= len(scans) <= 2, "\n".join(scans)
    assert plan.count("InMemoryTableScan") >= 6, plan.count("InMemoryTableScan")
    assert plan.count("CartesianProduct") == 0
    n_windows = sum(1 for l in plan.splitlines() if l.lstrip(" :+-").startswith("Window"))
    assert n_windows == 2, n_windows


def test_similar_parts_hub_cap_semi_pushes_below_wedge_join(spark, sf_dir):
    """VERDICT r10 next-round #4: the SIM_MAX_DEG hub-cap semi-join
    must apply BELOW the wedge self-join fan-out (Catalyst's
    PushDownLeftSemiAntiJoin) — without the pushdown an uncapped hub
    fans d² wedge rows BEFORE the filter and the cap is cosmetic at
    100 TB. PushDownLeftSemiAntiJoin can regress silently across
    Spark upgrades, so pin the placement: in the optimized plan's
    pre-order print, every LeftSemi sits AFTER (i.e. beneath) the
    wedge inner join, never above it.

    The operator returns a localCheckpoint (lineage truncation for
    its downstream consumers), which would hide the plan — the test
    identity-patches checkpointing to see the full tree."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from datatransformertools_spark.operators.graph import SIM_MAX_DEG, part_similar_parts

    orig = ClassicDF.localCheckpoint
    ClassicDF.localCheckpoint = lambda self, eager=True: self
    try:
        df = part_similar_parts(spark, sf_dir)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        ClassicDF.localCheckpoint = orig

    lines = opt.splitlines()
    wedge_idx = next(
        i
        for i, l in enumerate(lines)
        if re.search(r"Join Inner, \(\(pa#\d+L < pb#\d+L\)", l)
    )
    semi_idxs = [i for i, l in enumerate(lines) if "Join LeftSemi" in l]
    assert semi_idxs, "hub-cap semi-join vanished from the plan"
    assert all(i > wedge_idx for i in semi_idxs), (
        "SIM_MAX_DEG semi-join sits ABOVE the wedge self-join — the "
        f"pushdown regressed (wedge at line {wedge_idx}, semis at {semi_idxs})"
    )
    # and the cap itself is the semi's filter
    assert re.search(rf"Filter \(deg#\d+L <= {SIM_MAX_DEG}\)", opt), opt


def test_server_pipeline_class_map_broadcast_stays_literal(spark, sf_dir, monkeypatch):
    """VERDICT r10 polish (b): the one multimodal broadcast is the
    class map, and its bound is |classes| BY CONSTRUCTION — a
    Catalyst LocalRelation built from the CLASS_MAP literal, never a
    data-derived frame. Pin that the broadcast child is a
    LocalTableScan, and that it STAYS one when the class map grows
    (a 64-class detector is still a literal dim; the failure mode
    this guards is someone rebuilding the map from data and leaving
    the hint on a data-sized frame)."""
    from datatransformertools_spark.operators import annotations as ann
    from datatransformertools_spark.operators.multimodal import server_pipeline

    def _broadcast_children_are_local(plan: str) -> bool:
        lines = plan.splitlines()
        idxs = [i for i, l in enumerate(lines) if "BroadcastExchange" in l]
        assert len(idxs) == 1, plan
        return "LocalTableScan" in lines[idxs[0] + 1]

    plan = server_pipeline(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert _broadcast_children_are_local(plan)

    monkeypatch.setattr(
        ann, "CLASS_MAP", {i: f"class_{i}" for i in range(64)}
    )
    grown = server_pipeline(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert _broadcast_children_are_local(grown)
