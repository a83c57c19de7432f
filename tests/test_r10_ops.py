"""Round-10 additions: the composed `server_pipeline` flow.

The stages (`pdf_to_pages`, `batch_inference`,
`competition_json_roundtrip`) are certified individually; these
tests pin what the COMPOSITION adds — one fused plan covering the
whole reference serving flow (Tools/server.py:64-117) with no
driver round-trip between stages.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datatransformertools_spark.operators.multimodal import (
    CONF_THRESHOLD,
    pdf_to_pages,
    server_pipeline,
)


def test_server_pipeline_one_row_per_page(spark, sf_dir):
    """The response envelope has exactly the pagination stage's
    grain: one row per (doc_id, page_idx), including pages whose
    detections ALL fall below the confidence filter (the server
    returns `annotations: []` for those, not nothing)."""
    pages = pdf_to_pages(spark, sf_dir).select("doc_id", "page_idx")
    resp = server_pipeline(spark, sf_dir).select("doc_id", "page_idx")
    assert pages.count() == resp.count()
    assert pages.exceptAll(resp).count() == 0


def test_server_pipeline_envelope_consistency(spark, sf_dir):
    rows = server_pipeline(spark, sf_dir).collect()
    assert rows
    saw_empty_page = False
    for r in rows:
        # the stub model emits 1 + (doc+page) % 3 detections per page
        assert r.n_dets == 1 + (r.doc_id + r.page_idx) % 3
        assert 0 <= r.n_kept <= r.n_dets
        assert r.page_name == f"doc_{r.doc_id}.pdf_page{r.page_idx}"
        if r.n_kept == 0:
            saw_empty_page = True
            # empty annotation list → zero checksum, zeroed max_conf
            assert r.ann_hash_sum == 0 and r.max_conf == 0.0
        else:
            assert r.ann_hash_sum > 0
            assert r.max_conf >= CONF_THRESHOLD
    # the filter must actually bite somewhere at this SF, or the
    # empty-envelope path is untested
    assert saw_empty_page


def test_server_pipeline_kernels_fuse_without_shuffle(spark, sf_dir):
    """The composition contract: pagination and inference run in ONE
    Arrow kernel, so each task starts one Python runner and rendered
    page bytes never come back into the JVM — no JVM operator of the
    plan carries a `page_bytes` attribute. The only shuffles are the
    initial doc repartition and the final per-page aggregation; the
    class-name join is the one |classes|-bounded broadcast."""
    plan = server_pipeline(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "page_bytes" not in plan, plan
    assert plan.count("BroadcastExchange") == 1, plan
    # doc repartition + final agg + the class-map broadcast = 3
    assert plan.count("Exchange") == 3, plan


def test_stream_full_outer_join_emits_both_null_sides(spark, sf_dir):
    """The full-outer stream-stream interval join must exercise
    BOTH null-emission paths at test SF — unmatched clicks AND
    orphan purchases — plus at least one matched pair; otherwise
    the op certifies nothing the left-outer twin doesn't. Matched
    pairs carry both sides; null rows carry exactly one."""
    from datatransformertools_spark.streaming.events import (
        events_stream_interval_join_full,
    )

    rows = events_stream_interval_join_full(spark, sf_dir).collect()
    assert rows
    assert sum(r.n_pairs for r in rows) > 0
    assert sum(r.n_click_only for r in rows) > 0
    assert sum(r.n_purchase_only for r in rows) > 0
    # lag accumulates only on matched pairs, and pairs lag within
    # the 30-minute join window
    for r in rows:
        if r.n_pairs == 0:
            assert r.total_lag_us == 0
        else:
            assert 0 <= r.total_lag_us <= r.n_pairs * 30 * 60 * 1_000_000


def test_ann_dim_recall_curve_grid_and_full_width_pin(spark, sf_dir):
    """The dimension curve reports one row per grid budget, recall
    in [0,1] with hit counts consistent, and the FULL-width budget
    scores with the exact brute-force arithmetic — its recall must
    read 1.0 (the self-check that pins the curve to the audited
    ground truth, like the LSH curve's widest-budget row)."""
    from datatransformertools_spark.operators.similarity import (
        DIM_GRID,
        N_QUERIES,
        TOP_K,
        ann_dim_recall_curve,
    )

    rows = {r.dims: r for r in ann_dim_recall_curve(spark, sf_dir).collect()}
    assert sorted(rows) == DIM_GRID
    for d, r in rows.items():
        assert 0 <= r.n_hits <= N_QUERIES * TOP_K
        assert 0.0 <= r.recall <= 1.0
    assert rows[DIM_GRID[-1]].recall == 1.0


def test_ann_quantization_recall_curve_grid_and_float_pin(spark, sf_dir):
    """One row per bits budget, recall within bounds, and the float
    passthrough row must read 1.0 — it scores with the exact
    brute-force arithmetic. (Monotonicity in bits is expected but
    not asserted: individual rank flips near ties are possible.)"""
    from datatransformertools_spark.operators.similarity import (
        N_QUERIES,
        QUANT_BITS_GRID,
        TOP_K,
        ann_quantization_recall_curve,
    )

    rows = {r.bits: r for r in ann_quantization_recall_curve(spark, sf_dir).collect()}
    assert sorted(rows) == QUANT_BITS_GRID
    for r in rows.values():
        assert 0 <= r.n_hits <= N_QUERIES * TOP_K
        assert 0.0 <= r.recall <= 1.0
    assert rows[QUANT_BITS_GRID[-1]].recall == 1.0


def test_bench_calibration_block_slicing_is_structural():
    """ADVICE r9: the steady-state drift slice must derive from the
    same constant _run_calibration uses, so changing the block size
    can't silently misalign the codegen-run exclusion. Replay the
    slicing over synthetic blocks where each block's first run is a
    marker value — no marker may survive into the steady set."""
    from bench import CAL_RUNS_PER_BLOCK

    marker, steady_val, n_blocks = 99.0, 0.5, 3
    cal_runs = ([marker] + [steady_val] * (CAL_RUNS_PER_BLOCK - 1)) * n_blocks
    steady = [
        r
        for b in range(0, len(cal_runs), CAL_RUNS_PER_BLOCK)
        for r in cal_runs[b + 1 : b + CAL_RUNS_PER_BLOCK]
    ]
    assert marker not in steady
    assert len(steady) == n_blocks * (CAL_RUNS_PER_BLOCK - 1)


def test_bench_ambience_band_gate():
    """The isolated-entry re-run trigger (VERDICT r9 #2): >2× after
    drift adjustment fires, anything inside the band does not, and
    a missing/zero prior never fires. r12: the band is supplied PER
    TAG (ADVICE r11 — a kept row can mix passes, so each tag bands
    against the drift it was measured under)."""
    from bench import _band_moved_tags, _prev_name_drift

    old = {"cold": 10.0, "warm": 5.0}
    assert _band_moved_tags(old, {"cold": 11.0, "warm": 16.0}, lambda t: 1.2) == ["warm"]
    assert _band_moved_tags(old, {"cold": 19.0, "warm": 9.0}, lambda t: 1.0) == []
    # drift adjustment: a 3× raw move inside a 2× ambience band stays
    assert _band_moved_tags(old, {"warm": 15.0}, lambda t: 2.0) == []
    assert _band_moved_tags({}, {"warm": 100.0}, lambda t: 1.0) == []
    assert _band_moved_tags({"warm": 0.0}, {"warm": 100.0}, lambda t: 1.0) == []
    # per-tag bands: only the tag whose band is tight fires
    bands = {"cold": 1.0, "warm": 10.0}
    assert _band_moved_tags(
        old, {"cold": 25.0, "warm": 25.0}, lambda t: bands[t]
    ) == ["cold"]
    # per-tag prior drift resolution: iso_drift_tags > iso_drift > run-wide
    prior = {"cold": 10.0, "iso_drift": 2.0, "iso_drift_tags": {"cold": 2.5}}
    assert _prev_name_drift(prior, 1.0, "cold") == 2.5
    assert _prev_name_drift(prior, 1.0, "warm") == 2.0  # no tag entry → scalar
    assert _prev_name_drift({}, 1.5) == 1.5  # pre-r11 artifact → run-wide


def test_bench_effective_cores_burn_is_sane():
    """The second calibration channel returns a plausible reading:
    more than one effective core on this 32-thread container, and
    never more than the worker count."""
    from bench import _measure_effective_cores

    cores = _measure_effective_cores(8)
    assert 1.0 < cores <= 8.0


def test_server_pipeline_checksum_tracks_annotation_content(spark, sf_dir):
    """The per-page checksum is an order-independent SUM of 32-bit
    annotation hashes — recomputing it from the same plan is stable,
    and the page-level totals reconcile with the kept counts."""
    df = server_pipeline(spark, sf_dir)
    agg1 = df.agg(
        F.sum("ann_hash_sum").alias("h"), F.sum("n_kept").alias("k")
    ).collect()[0]
    agg2 = df.agg(
        F.sum("ann_hash_sum").alias("h"), F.sum("n_kept").alias("k")
    ).collect()[0]
    assert (agg1.h, agg1.k) == (agg2.h, agg2.k)
    assert agg1.k > 0 and agg1.h > 0
