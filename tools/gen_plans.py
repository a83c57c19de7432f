"""Regenerate PLANS.md — captured physical-plan evidence.

Run from the repo root:  python tools/gen_plans.py [sf_dir]

Dumps the executed plan of a curated set of queries (the ones whose
plan shape carries the scale argument) with one line of commentary
each. tests/test_plans.py asserts the same load-bearing properties
in CI; this file is the human-readable exhibit.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

# (name, note, hints_only): with hints_only=True the plan is captured
# with AQE + size-based auto-broadcast disabled, so every
# BroadcastExchange shown comes from an explicit F.broadcast hint —
# the shape that holds at ANY scale, not the stats-based small-SF one.
SECTIONS = [
    (
        "q6_forecast_revenue",
        "Full predicate + 4-column pruning pushed into the parquet scan; "
        "single partial-agg exchange.",
        False,
    ),
    (
        "q5_region_revenue",
        "Fixed-size dims (region/nation, 5/25 rows) are the only hinted "
        "broadcasts; customer/supplier-derived frames shuffle-join on their "
        "keys (AQE upgrades them to broadcast at small SF from runtime "
        "stats, visible as BroadcastHashJoin under AdaptiveSparkPlan — the "
        "hint-free plan is what survives 100 TB).",
        True,
    ),
    (
        "q3_top_unshipped",
        "No forced broadcast anywhere: customer⋈orders and orders⋈lineitem "
        "both shuffle on their keys after pushdown filters, so no side ever "
        "has to fit in memory.",
        True,
    ),
    (
        "dedup_exact",
        "Shuffle carries (md5, doc_id) only — text never moves.",
        False,
    ),
    (
        "dedup_ngram_jaccard",
        "Per-document size table shuffle-joins on doc_id (never broadcast — "
        "it scales with the corpus); the inverted index is built once from "
        "the tracked shingle cache.",
        True,
    ),
    (
        "text_stats",
        "Zero exchanges: per-row featurization is scan-bound at any scale.",
        False,
    ),
    (
        "events_asof_join",
        "Union-merge as-of: one shuffle per side into the per-user window, "
        "no inequality join.",
        False,
    ),
    (
        "ann_ivf_topk",
        "Broadcast codebook + broadcast probed queries; per-cell rerank.",
        False,
    ),
    (
        "detection_eval_greedy",
        "The sequential notebook loop as grouped-map applyInPandas keyed by "
        "a 256-way image hash bucket: one Arrow transfer per bucket (not per "
        "image), executors match their own images, driver sees only the "
        "final counts.",
        False,
    ),
    (
        "pdf_to_pages",
        "One mapInPandas fan-out stage over a key-only doc exchange that "
        "AQE sizes by bytes — page explosion happens executor-side in "
        "Arrow batches.",
        False,
    ),
    (
        "q8_market_share",
        "Widest join in the suite: only the nation/region hops are hinted "
        "broadcasts; part/customer/supplier/orders all shuffle on their "
        "keys — every data-scale side survives 100 TB.",
        True,
    ),
    (
        "q21_waiting_suppliers",
        "EXISTS / NOT-EXISTS pair as per-order window aggregates: one "
        "shuffle on orderkey, no self-joins, no broadcast of any "
        "data-scale frame.",
        True,
    ),
    (
        "doc_chunk_windows",
        "RAG chunk fan-out is a pure per-row explode: zero exchanges, "
        "chunking runs inside the scan partition.",
        False,
    ),
    (
        "embedding_quantize",
        "Per-dim stats reduce to DIM rows (hint-broadcast back is "
        "fixed-size); both shuffles carry 3-number rows, never the "
        "embedding array.",
        False,
    ),
    (
        "q2_min_cost_supplier",
        "Semi-join prunes lineitem by the filtered part keys BEFORE the "
        "per-(partkey,suppkey) aggregation; at scale the semi-join's "
        "l_partkey partitioning is reused by both the groupBy (subset "
        "clustering) and the window — one data shuffle, no forced "
        "broadcast of part or supplier.",
        True,
    ),
    (
        "dedup_simhash",
        "Token md5 runs map-side and folds straight into the 48 per-bit "
        "partial sums — the only full shuffle carries one 48-long row per "
        "doc per map partition; band candidates then bucket-join.",
        False,
    ),
    (
        "repetition_stats",
        "All three repetition signals — including the token MODE, folded "
        "as the longest run of the sorted token array — are per-row array "
        "ops: zero exchanges at any scale.",
        False,
    ),
    (
        "doc_unigram_logprob",
        "Unigram-LM scoring: vocabulary groupBy is the only data-scale "
        "shuffle, the corpus total rides as a broadcast 1-row aggregate, "
        "and the token⋈vocab score join reuses the vocab partitioning "
        "(never a forced broadcast — the vocabulary grows with the "
        "corpus).",
        True,
    ),
    (
        "vocab_topk",
        "Top-V vocabulary via TakeOrderedAndProject: per-partition top-V "
        "then a V-row merge — no global sort; the id-assignment window "
        "sorts only the V surviving rows.",
        False,
    ),
    (
        "orders_market_basket",
        "Basket-explode shape: exactly two exchanges — groupBy(orderkey) "
        "with map-side partial collect_set (basket dedup), then the a<b "
        "pair fan-out runs inside codegen on the grouped rows into a "
        "map-side-combined pair aggregate. No joins, no broadcast.",
        True,
    ),
    (
        "customer_rfm",
        "All three ntile(4) windows share ONE c_mktsegment exchange (three "
        "in-partition sorts, no re-shuffle between them); the reference "
        "date is the only broadcast (1-row aggregate); the customer join "
        "is a shuffle SortMergeJoin — customer is never hint-broadcast.",
        True,
    ),
    (
        "doc_bm25_topk",
        "The repartitioned text scan is a ReusedExchange across the "
        "tf/dl/df/stats branches; (N, avgdl) ride a 1-row "
        "BroadcastNestedLoopJoin; the per-doc top-5 is "
        "WindowGroupLimit-pruned map-side before the final doc_id "
        "exchange; the vocabulary join is a shuffle SortMergeJoin — never "
        "hint-broadcast.",
        True,
    ),
    (
        "events_transition_matrix",
        "One user_id exchange for the lead() window, then the |types|² "
        "aggregate combines map-side before its own exchange; gap sum "
        "stays an exact long until the final divide.",
        False,
    ),
    (
        "events_anomaly_zscore",
        "Mean and stddev_samp share a single (user_id, event_type) "
        "exchange; the filter runs before the output projection so only "
        "outliers leave the window stage.",
        False,
    ),
    (
        "events_column_profile",
        "One-pass multi-distinct profile: Expand fans each row out once "
        "per profiled column, then partial aggregation keyed on "
        "(gid, value) runs map-side, so the shuffle carries per-partition "
        "DISTINCT values — never raw rows; the unpivot is a stack over "
        "the single 1-row aggregate.",
        False,
    ),
    (
        "ann_pq_topk",
        "Everything constants-bounded broadcasts (codebook, per-query LUT, "
        "200-row shortlist); the encode argmin is a map-side-combined "
        "min_by SortAggregate; the ADC sum is one (query, candidate) "
        "exchange with partial sums; both top-k windows are "
        "WindowGroupLimit-pruned before their exchanges; raw vectors are "
        "only touched on the shortlist rerank.",
        True,
    ),
    (
        "q11_important_stock",
        "The 25-row nation dim and the 1-row decimal threshold aggregate "
        "are the only hinted broadcasts; lineitem prunes via a shuffled "
        "semi-join on the nation's supplier keys (supplier grows with SF), "
        "then one l_partkey exchange feeds both the agg and the "
        "HAVING-over-total compare.",
        True,
    ),
    (
        "image_tiles",
        "Zero-exchange fan-out: the per-axis offset arrays build and "
        "double-explode entirely map-side inside one WholeStageCodegen "
        "span — a billion-image tile plan is scan-bound.",
        False,
    ),
    (
        "events_active_users",
        "Exact rolling distinct the decomposable way: events collapse to "
        "distinct (day, user) pairs in one map-side-combined exchange, the "
        "x7 WAU fan-out is a map-side explode of that collapsed set, and "
        "one count_distinct per target day finishes — no per-window user "
        "sets, no self-join of raw events.",
        False,
    ),
    (
        "dedup_incremental",
        "New-drop dedup against the corpus hash index: both sides collapse "
        "to (16-byte md5, doc_id) before the membership join, so text "
        "never reaches an exchange and drop-side work is O(|drop|) — the "
        "incremental-ingest shape that avoids re-deduping the corpus.",
        False,
    ),
    (
        "q20_dominant_suppliers",
        "No hinted broadcast anywhere: the shipdate filter pushes into the "
        "lineitem scan, part keys prune via a shuffled semi-join, the "
        "(suppkey, partkey) groupBy is the one data shuffle, and the "
        "per-part total reuses the aggregate via an l_partkey window — "
        "the correlated subquery never rescans lineitem.",
        True,
    ),
    (
        "paragraph_dedup",
        "Gopher-style paragraph removal: paragraphs explode map-side and "
        "immediately collapse to (16-byte md5, doc_id, idx, n_chars) — "
        "paragraph text never reaches an exchange; one window shuffle "
        "keyed on the hash decides first-occurrence, one doc_id shuffle "
        "regroups. O(total paragraphs) at any corpus size.",
        False,
    ),
    (
        "cross_source_overlap",
        "Source-pair contamination matrix: the self-join keys on the "
        "shingle, so per-key fan-out is bounded by |sources|^2 (20^2) "
        "regardless of corpus size, and the output is |sources|^2 rows. "
        "The |sources|-row size frames are the only hinted broadcasts "
        "(bounded by source count, not data).",
        False,
    ),
    (
        "embedding_covariance",
        "The N*d^2/2 product grain generates map-side (two nested "
        "explodes) and collapses through partial aggregation into "
        "d(d+1)/2 groups — the exchange carries d^2 partial sums per map "
        "partition, never N*d^2 rows; d-row mean frame hint-broadcast "
        "(schema-bounded).",
        True,
    ),
    (
        "events_attribution",
        "Last-touch attribution with NO self-join: one user_id window "
        "pass carries last-seen click state forward (running last(), "
        "O(1) state per row), purchases filter after the window. The "
        "classic as-of explosion never materializes.",
        False,
    ),
    (
        "orders_upsert_merge",
        "CDC merge-apply: anti-join (deletes) + left join (updates) + "
        "union (inserts), all keyed on o_orderkey; the CDC side carries "
        "no broadcast hint (a backfill batch can be snapshot-sized — "
        "AQE upgrades from runtime stats). Checksums collapse map-side "
        "to |status| rows.",
        False,
    ),
    (
        "dedup_substring_spans",
        "Exact duplicated-span detection: windows hash map-side to "
        "(md5, doc_id, pos) — text never reaches an exchange; the "
        "hot-hash table comes from one map-side-combined count and "
        "consumes as a LeftSemi join, so unique windows (the vast "
        "majority) never reach the per-doc island window.",
        False,
    ),
    (
        "bloom_join_prune",
        "Runtime-filter shape: the bit set collapses to ONE broadcast "
        "array row; fact keys probe it entirely map-side (no fact-side "
        "exchange before the filter decision), and only aggregate "
        "counts leave the scan stage.",
        True,
    ),
    (
        "events_trailing_1h",
        "Time-RANGE frame: one user_id exchange; the running frame is "
        "bounded by an hour of events per user, not history, and needs "
        "no tiebreak column because simultaneous rows share a window.",
        False,
    ),
    (
        "vocab_coverage_curve",
        "One corpus-scale token-count exchange; the rank window and the "
        "<=k joins run on the vocab-sized frame (BroadcastNestedLoop "
        "against 4 checkpoint rows) — the single-partition sort is "
        "bounded by |vocab|, documented and deliberate.",
        False,
    ),
    (
        "ann_ivf_pq_topk",
        "The production ANN composite: every BroadcastExchange is a "
        "constants-bounded frame (coarse cells, probe list, PQ codebook, "
        "per-query LUT, shortlist, query side); the ADC stage joins "
        "probed pairs to 8-byte code rows (|probed pairs|*M grain, "
        "map-side partial sums), and raw vectors appear only under the "
        "shortlist rerank join.",
        True,
    ),
    (
        "detection_eval_ap_coco",
        "101-point COCO AP: the envelope rows fan out against the "
        "101-row recall grid as a BroadcastNestedLoopJoin (fixed-size "
        "literal frame) with an integer-exact membership predicate, "
        "then collapse map-side into |classes|*101 groups; the "
        "|classes|-row GT-count frame is the only other hinted "
        "broadcast. No shrinking window frame anywhere (the envelope "
        "is the O(n) reversed running max).",
        True,
    ),
    (
        "embedding_pca_invariants",
        "PCA error-contract companion: the data-side verification is "
        "ONE global 1-row aggregate (two avgs per component, map-side "
        "partials, single SinglePartition exchange) over the projected "
        "scores; the d^2-bounded fit happens driver-side and rides back "
        "as literals, and the K output rows explode from the single "
        "aggregate row — no join, no union re-scan.",
        False,
    ),
    (
        "doc_bigram_logprob",
        "Bigram LM: adjacency resolves inside each row's token array "
        "(zip with the 1-shifted copy, map-side — no window, no "
        "self-join); two vocabulary-scale aggregates and a score join "
        "that reuses the bigram-keyed exchange.",
        False,
    ),
    (
        "dedup_embedding",
        "r5 re-block (VERDICT r4 #3): the self-join keys on the k-means "
        "cell (+ label as secondary key), never the fixed-cardinality "
        "label alone — block volume is bounded by cell size (clusters "
        "∝ N), killing the engine's last quadratic join. Multi-probe "
        "assignment (3 nearest cells, a codegen'd literal-centroid "
        "projection + explode — no join, no shuffle) recovers boundary "
        "pairs; `dedup_embedding_recall` measures the blocking at 0.95 "
        "recall (sf0.01) with exact-cosine verification (precision 1.0).",
        True,
    ),
    (
        "events_bitmap_rollup",
        "r6 bitmap-index primitive: ONE exchange total, and it carries "
        "8-byte hour bitmaps (bit_or map-side combine), never event "
        "rows; popcount/daypart-mask columns are codegen'd projections "
        "on top. The scan reads exactly (ts, user_id).",
        False,
    ),
    (
        "embedding_knn_graph",
        "r6 kNN-graph seed: candidates come from the corpus-proportional "
        "(k-means cell, label) blocked self-join — no hinted broadcast, "
        "no cartesian; the per-src top-k window partitions on src and "
        "the reciprocity pass self-joins the bounded N·K edge list.",
        True,
    ),
    (
        "doc_duplication_score",
        "r7 memorization-risk score: both shuffles carry the shingle's "
        "32-hex md5 + doc_id — text never moves; df is one hash-keyed "
        "aggregate off the memoized shingle stage table, then one per-doc "
        "partial agg.",
        False,
    ),
    (
        "part_price_index",
        "r7 price-index ladder: ONE lineitem partial-agg to the "
        "(part, year) grain; the parts-scale base-year slice shuffle-joins "
        "on partkey (data-scale side never broadcast); the only hinted "
        "broadcast is the 1-row base-year scalar.",
        True,
    ),
    (
        "corpus_filter_ablation",
        "r8 independent-filter overlap grid: one scan computes all three "
        "flags (score, hash, tokens fused in one projection); the only "
        "data-scale shuffle is the text-hash keeper window; the 2^3 grid "
        "collapses map-side to <=8 rows and the share window runs on that "
        "bounded frame. The percentile bounds ride as the one hinted "
        "1-row broadcast.",
        True,
    ),
    (
        "events_dau_mau_stickiness",
        "r8 exact trailing-28-day MAU: sliding distinct does not "
        "decompose, so the fan-out (explode to <=28 grid days) runs "
        "map-side AFTER the distinct (user, day) collapse — 28 x "
        "|user-days| rows, never 28 x |events|; the final aggregate "
        "carries (grid_day, user_id) pairs and output is |days| rows. "
        "No broadcast of any data-scale frame.",
        True,
    ),
    (
        "simhash_bit_balance_audit",
        "r8 per-bit-plane balance: the simhash stage's one shuffle "
        "(48 partially-aggregated longs per doc) feeds a map-side x48 "
        "bit fan-out that partially aggregates to <=48 rows per "
        "partition before the 48-row face. No joins, no windows, no "
        "broadcasts.",
        True,
    ),
    (
        "dup_quality_interaction",
        "r8 duplication-exposure x quality-verdict grid: two per-doc "
        "aggregate frames (shingle-df exposure, Gopher rule census) "
        "join once on doc_id, then a map-side banding collapses to a "
        "<=5-row face. Text never crosses an exchange; no hinted "
        "broadcasts.",
        True,
    ),
    (
        "vocab_heaps_law",
        "r8 Heaps-law fit: per-doc token counts (|docs| rows) and the "
        "token first-occurrence frame (|vocab| rows, one min-combined "
        "shuffle) each fan x16 map-side against the broadcast 1-row "
        "max(doc_id) scalar and partially aggregate to <=16 rows per "
        "partition — no cumulative window ever sees corpus-scale "
        "rows; the OLS fit runs on the 16-point frame and rides back "
        "as a broadcast 1-row frame.",
        True,
    ),
    (
        "embedding_pq_distortion",
        "r8 PQ bytes/distortion tuning table: ONE embeddings scan "
        "fans each vector map-side to its (m, sub) subvectors for "
        "all three candidate m at once; the constants-bounded "
        "codebook grid is the single broadcast; encode is a "
        "min-combined aggregate keyed (vec_id, m, sub_id) and the "
        "face is 3 rows. Reconstructed vectors never materialize "
        "(recon L2^2 = sum of per-subspace min code distances).",
        True,
    ),
    (
        "shard_source_mix_audit",
        "r8 shard-composition fairness: the shard key is computed "
        "map-side from doc_id alone, ONE (shard, source)-keyed "
        "partial-agg shuffle bounds the exchange at "
        "N_SHARDS*|sources| groups at any corpus size, and the "
        "chi-square fold runs on that grid; the |sources|-row "
        "global-mix frame is the only (hinted, feature-bounded) "
        "broadcast.",
        True,
    ),
    (
        "cms_width_error_curve",
        "r8 CMS width tuning table: one events scan fans map-side "
        "to depth x |widths| = 12 (width, row, bucket) triples; "
        "every sketch partially aggregates to <= ~11k counter "
        "groups regardless of corpus size; probes join the bounded "
        "counter frame and the per-key min collapses keyed "
        "(user, width) into a 3-row face. No broadcasts, no "
        "windows.",
        True,
    ),
    (
        "ann_ivf_cell_balance",
        "r8 IVF index-side skew audit: one embeddings scan against "
        "the broadcast N_CELLS-row codebook; the argmax is a "
        "per-vector window over N_CELLS rows (partition key = "
        "vec_id, never global); members collapse to N_CELLS groups "
        "map-side and the total rides a partition-less window on "
        "the N_CELLS-row aggregate.",
        True,
    ),
    (
        "session_gap_threshold_curve",
        "r8 session-constant sweep: ONE per-user lag window (the "
        "same single user_id shuffle every session op pays), a "
        "map-side x5 candidate fan that partially aggregates to 5 "
        "rows per partition, and the 1-row (n_users, n_events) "
        "totals as the only broadcast — sessions(tau) = users + "
        "boundaries(tau), so no per-tau session re-assembly ever "
        "runs.",
        True,
    ),
    (
        "neardup_detector_overlap",
        "r8 detector Venn audit: both pair sets are the shipped "
        "band-bucketed self-joins on 16-byte keys; the Venn joins "
        "on (doc_a, doc_b); true Jaccard runs only on members of "
        "flagged pairs (leftsemi prune) with left joins so "
        "shingle-less docs stay counted; face <= 3 rows.",
        True,
    ),
    (
        "winnowing_density_audit",
        "r8 winnow-index sizing table: gram hashing and the "
        "min-window run are partition-local per doc after one "
        "doc_id repartition (the dedup_winnowing stage exactly); "
        "per-doc (windows, distinct fps) collapses map-side and the "
        "face is |sources| rows. The pair self-join never runs.",
        True,
    ),
]

# Iterative operators whose returned plan is a checkpoint scan (their
# rounds materialize eagerly inside the builder) — documented in
# prose instead of a capture.
PROSE_SECTIONS = [
    (
        "bucketed_join_revenue (prose — staged catalog tables)",
        "The returned plan is a localCheckpoint scan (the staging tables "
        "drop before return), so the exhibit lives in "
        "tests/test_sinks.py::test_bucketed_join_is_shuffle_free: with "
        "auto-broadcast disabled, the orders x lineitem join out of the "
        "bucketed+sorted catalog tables contains NO Exchange on either "
        "side — both layouts already agree on hashpartitioning(orderkey, "
        "8) from the write. That is the pay-once-join-forever layout: at "
        "100 TB the bucketing shuffle happens once at ingest and every "
        "recurring join of the two biggest tables skips both sort-merge "
        "exchanges.",
    ),
    (
        "events_stream_interval_join (prose — streaming)",
        "The returned plan is a batch aggregate over the drained memory "
        "sink; the plan that matters executes inside the stream: a "
        "stream-stream inner join whose condition bounds purchase_time "
        "to [click_time, click_time + 30 min] with a 60-minute watermark "
        "on BOTH sides, so the symmetric hash join's state store evicts "
        "rows once the watermark passes their join horizon — state is "
        "bounded by (watermark + interval) x arrival rate, not by "
        "history. Both sides pre-filter map-side (event_type pushdown "
        "to the parquet scan) before any state is keyed, and the state "
        "partitions by user_id across executors.",
    ),
    (
        "part_pagerank (prose — iterative)",
        "The returned plan is a localCheckpoint scan: the five rounds "
        "materialize eagerly inside the builder (the k-means / "
        "connected-components exemption) so the adjacency stage table can "
        "be unpersisted before return instead of leaking. Per round, the "
        "executed plan is: adjacency scan (|nodes| rows from cache) -> "
        "AQE-broadcast rank join -> map-side explode to edge grain -> one "
        "hashpartitioning(dst) exchange with partial sums -> 9-dp "
        "quantized update. Build is two shuffles total: groupBy(orderkey) "
        "with partial collect_set (basket dedup) and "
        "groupBy(src).collect_set(dst) (edge dedup + adjacency + degree "
        "in one pass).",
    ),
    (
        "r4->r5 mover audit (VERDICT r4 #5)",
        "The two >1 s r4 in-suite movers were re-timed in fresh JVMs "
        "(bench --isolate, now part of the default isolated list). "
        "lineitem_orc_roundtrip: 3.31 s isolated-warm vs 3.51 s (r3) / "
        "5.06 s (r4) in-suite — the plan is unchanged (git diff empty for "
        "the operator); the r4 number was IO variance on the full ORC "
        "write, verdict: noise. dedup_embedding: 5.49 s isolated-warm vs "
        "2.92 s (r3) / 4.24 s (r4) in-suite — NOT noise, but the r5 "
        "re-block: the operator now runs the shared Lloyd's training loop "
        "plus a 3-probe assignment before its (cluster, label)-keyed "
        "self-join, i.e. it joined the iterative family and pays that "
        "family's fixed per-round scheduling overhead at sf0.1. That is "
        "the cost of removing the O((N/10)^2) label-blocked join volume; "
        "the centroid fit is now memoized per session as a per-round "
        "state chain (similarity.py trained_centroids) — shorter fits "
        "are prefixes of longer ones — so the dedup_embedding family + "
        "semdedup + kmeans_embeddings share ONE training run instead "
        "of five.",
    ),
    (
        "r7 bench watch-item re-baseline (VERDICT r7 #5)",
        "Both watch items were re-timed with `bench.py --isolate` three "
        "times back-to-back at sf0.1 (runs 2 and 3 on an otherwise-idle "
        "container; run 1 overlapped a short pytest invocation and is "
        "included to show what contention does to these numbers). "
        "part_similar_parts cold/warm: 22.4/9.66 (contended), 11.5/6.59, "
        "15.8/8.11 — the r7-recorded 12.1/7.09 sits inside the idle "
        "spread, and the r6-vs-r7 \"+53% isolated-warm\" delta is smaller "
        "than the spread of IDENTICAL back-to-back runs (warm 6.59->9.66 "
        "is +47% with zero code change). bpe_segment_stats cold: 13.5, "
        "14.9, 17.5 vs the r7-recorded 18.5 — the r7 number is the top of "
        "the observed cold-JIT range, not a plan change (git diff for "
        "both operators across r6->r8 is empty). Verdict: container/JIT "
        "variance, closed with numbers. The structural fix is the "
        "fixed-workload calibration in bench.py (VERDICT r7 #6): every "
        "future BENCH_DETAIL.json carries `calibration.drift` (median of "
        "a constant synthetic scan->shuffle->agg vs the pinned r8 idle "
        "reference CAL_REF_SEC=0.5), so ambient drift is measured per-run "
        "instead of adjudicated post-hoc.",
    ),
    (
        "r8 in-suite graph-family mover audit",
        "The final r8 bench run (303 queries, calibration drift 0.914 — "
        "idle container) shows the iterative graph family 2-3x slower "
        "IN-SUITE than the r8-interim run (part_kcore 19.3 vs 6.5, "
        "part_pagerank 15.0 vs 5.1, part_similar_parts 23.9 vs 6.2 s) "
        "while the RAW suite total moved only 495 -> 519 s (+5% carrying "
        "6 new queries). Adjudication from the same run's isolated "
        "pass: every isolated-warm number is flat or better round-over-"
        "round (part_kcore 6.15 vs 6.61, part_pagerank 5.51 vs 5.44, "
        "part_label_propagation 6.94 vs 7.00, part_similar_parts 6.91 "
        "vs 7.03, simhash_hamming_curve 10.34 vs 10.49) and git diff "
        "for the graph module is empty this round. Cause: the r8 gate-"
        "window rotation reordered the registry head, which moves where "
        "the iterative family lands in the shared-JVM suite (codegen + "
        "GC pressure placement) — exactly the order-sensitivity the "
        "isolated pass exists to strip. The interim-vs-final "
        "normalized-total swing (425 -> 568) is the calibration divisor "
        "flipping from a loaded (1.164) to an idle (0.914) container "
        "around a nearly-flat raw total; per-plan evidence is the "
        "isolated table, not the in-suite line items. CONFIRMED by the "
        "round-closing run (306 queries, drift 0.892): the graph family "
        "returned to its r7 in-suite levels with zero code change "
        "(part_kcore 6.12, part_pagerank 4.66, part_similar_parts 5.69 "
        "s) and the raw suite total landed at 392.6 s — the best "
        "recorded — carrying 16 more queries than r7.",
    ),
    (
        "r2->r1 shared-query regression audit (VERDICT r2 #6)",
        "The two shared-60 queries flagged >1.3x in BENCH_r02 were "
        "re-measured 3x back-to-back in one warm session at sf0.1 "
        "(local[32]). detection_eval_sweep: 8.6 s cold (first run of the "
        "eval family), then 2.65 s, 1.83 s (r1=1.74 / r2=2.93). Root "
        "cause is NOT a plan change in the sweep — commit 7779039 "
        "(post-r1) introduced a shared .cache() on the mutual-best "
        "matched/pairs frame used by the whole detection-eval family, so "
        "whichever eval query the bench runs FIRST pays the one-time "
        "materialization for all of them (family total went down; the "
        "sweep's line item went up). Warm steady-state is at r1 parity. "
        "q7_volume_shipping: 2.04 s cold, then 1.39, 1.19. The plan is "
        "byte-identical to r1 (git log -S shows no post-r1 edit); the "
        "0.41-vs-0.69 s delta is run-order/JVM-warmth noise at "
        "magnitudes where GC pauses dominate. Conclusion: neither is a "
        "plan regression; both numbers move with cache/warmup placement, "
        "not with work done per row.",
    ),
]

MAX_LINES = 40
MAX_WIDTH = 160


def lines_of(plan: str) -> list[str]:
    return [l[:MAX_WIDTH] for l in plan.splitlines()[:MAX_LINES]]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from datatransformertools_spark import registry
    from datatransformertools_spark.session import get_spark

    spark = get_spark("gen-plans")
    queries = registry.queries()
    out = [
        "# PLANS — captured physical-plan evidence",
        "",
        "Generated by `tools/gen_plans.py` from `.explain` at sf0.01 (plan",
        "shapes are scale-invariant; `tests/test_plans.py` asserts the",
        "load-bearing properties in CI).",
    ]
    for name, note, hints_only in SECTIONS:
        if hints_only:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = queries[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        tag = " (hints-only capture)" if hints_only else ""
        out += ["", f"## {name}{tag}", "", note, "", "```", *lines_of(plan), "```"]
    for title, note in PROSE_SECTIONS:
        out += ["", f"## {title}", "", note]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(SECTIONS) + len(PROSE_SECTIONS)} sections)")


if __name__ == "__main__":
    main()
