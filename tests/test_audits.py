"""Semantic invariants for the audit / governance operators — the
properties that must hold on ANY data, beyond the oracle's
value-equality on this data."""

from __future__ import annotations

from pyspark.sql import functions as F

from datatransformertools_spark.operators.audit import (
    key_skew_profile,
    referential_integrity_audit,
)
from datatransformertools_spark.operators.corpus import (
    SOURCE_CAP,
    cap_per_source,
    shard_assignment,
    source_temperature_weights,
)
from datatransformertools_spark.operators.dedup import (
    dedup_containment,
    dedup_incremental,
    doc_ngram_novelty,
)
from datatransformertools_spark.operators.events import (
    events_active_users,
    events_scd_join,
    events_watermark_audit,
)
from datatransformertools_spark.operators.similarity import (
    TOP_K,
    ann_bruteforce_topk,
    ann_mmr_topk,
    ann_recall_eval,
)
from datatransformertools_spark.sources.tables import load_table


def test_skew_profile_invariants(spark, sf_dir):
    rows = key_skew_profile(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_keys <= r.n_rows
        assert r.max_per_key <= r.n_rows
        # max/avg >= 1 by definition
        assert r.skew_factor >= 1.0


def test_referential_integrity_clean_schema(spark, sf_dir):
    # the synthetic star schema is referentially intact — every edge
    # must report zero orphans (and the audit must still emit a row)
    rows = referential_integrity_audit(spark, sf_dir).collect()
    assert len(rows) == 7
    assert all(r.n_orphan_rows == 0 and r.n_orphan_keys == 0 for r in rows)


def test_shard_assignment_covers_corpus(spark, sf_dir):
    rows = shard_assignment(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == total
    assert len(rows) <= 16


def test_temperature_weights_normalize(spark, sf_dir):
    rows = source_temperature_weights(spark, sf_dir).collect()
    assert abs(sum(r.mix_weight for r in rows) - 1.0) < 1e-3
    # flattening property: every source's weight exceeds its raw
    # char share's square-root scaling floor (all weights positive)
    assert all(r.mix_weight > 0 for r in rows)


def test_cap_per_source_bounds(spark, sf_dir):
    rows = cap_per_source(spark, sf_dir).collect()
    per_source: dict[str, int] = {}
    for r in rows:
        per_source[r.source] = per_source.get(r.source, 0) + 1
        assert 1 <= r.rank <= SOURCE_CAP
    assert all(n <= SOURCE_CAP for n in per_source.values())


def test_dedup_incremental_statuses_partition_drop(spark, sf_dir):
    out = dedup_incremental(spark, sf_dir)
    rows = out.collect()
    n_drop = (
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0).count()
    )
    assert len(rows) == n_drop
    assert {r.status for r in rows} <= {"novel", "dup_of_corpus", "dup_in_drop"}
    # inside the drop, at most one novel doc per hash
    novel_hashes = [r.text_hash for r in rows if r.status == "novel"]
    assert len(novel_hashes) == len(set(novel_hashes))


def test_ann_recall_bounds(spark, sf_dir):
    rows = ann_recall_eval(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_hits <= TOP_K
        assert 0.0 <= r.recall_at_k <= 1.0 + 1e-9


def test_watermark_audit_shares_sum_to_one(spark, sf_dir):
    rows = events_watermark_audit(spark, sf_dir).collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-3
    n_total = sum(r.n_events for r in rows)
    assert n_total == load_table(spark, sf_dir, "events").count()


def test_lang_id_eval_shares_sum_per_label(spark, sf_dir):
    from datatransformertools_spark.operators.text_analysis import lang_id_eval

    rows = lang_id_eval(spark, sf_dir).collect()
    per_label: dict[str, float] = {}
    for r in rows:
        per_label[r.labeled_lang] = per_label.get(r.labeled_lang, 0.0) + r.share_of_label
    assert per_label and all(abs(s - 1.0) < 1e-3 for s in per_label.values())


def test_novelty_first_doc_is_fully_novel(spark, sf_dir):
    rows = {r.doc_id: r for r in doc_ngram_novelty(spark, sf_dir).collect()}
    first = rows[min(rows)]
    # the earliest document's shingles have no earlier owner
    assert first.n_novel == first.n_shingles
    assert all(0.0 <= r.novelty_rate <= 1.0 + 1e-9 for r in rows.values())


def test_scd_join_covers_every_event_once(spark, sf_dir):
    rows = events_scd_join(spark, sf_dir).collect()
    n_events = load_table(spark, sf_dir, "events").count()
    # half-open version windows partition the time range: every event
    # matches exactly one dimension version
    assert sum(r.n_events for r in rows) == n_events


def test_active_users_wau_bounds(spark, sf_dir):
    rows = events_active_users(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # WAU is a superset count of that day's DAU
        assert r.wau >= r.dau > 0


def test_mmr_first_pick_is_most_relevant(spark, sf_dir):
    mmr = ann_mmr_topk(spark, sf_dir).collect()
    per_query: dict[int, list] = {}
    for r in mmr:
        per_query.setdefault(r.query_id, []).append(r)
    assert len(per_query) == 10
    top1 = {
        r.query_id: r.neighbor_id
        for r in ann_bruteforce_topk(spark, sf_dir).collect()
        if r.rank == 1
    }
    for qid, rows in per_query.items():
        assert len(rows) == TOP_K
        first = min(rows, key=lambda r: r.mmr_rank)
        # with nothing selected yet, MMR rank 1 == pure relevance rank 1
        assert first.neighbor_id == top1[qid]
        # scores are non-increasing along the greedy selection
        ordered = sorted(rows, key=lambda r: r.mmr_rank)
        assert all(a.mmr_score >= b.mmr_score for a, b in zip(ordered, ordered[1:]))


def test_containment_detects_subsets_jaccard_misses(spark, sf_dir):
    rows = dedup_containment(spark, sf_dir).collect()
    for r in rows:
        assert r.containment >= 0.8
        assert r.inter <= r.n_a
