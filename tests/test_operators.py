"""Unit tests per operator family — edge cases the oracle parity
suite can't see (it only compares engines on the shipped data)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datatransformertools_spark.functions.bbox import clip_box, from_yolo, iou_xywh, to_yolo
from datatransformertools_spark.operators.annotations import train_val_split
from datatransformertools_spark.operators.dedup import (
    MAX_SHINGLE_DF,
    dedup_components,
    dedup_containment,
    dedup_exact,
    dedup_keep_best,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_winnowing,
)
from datatransformertools_spark.operators.evaluation import (
    _CONF_ORDER,
    _PRED_ID_ORDER,
    _make_greedy_kernel,
    detection_eval,
    detection_eval_ap,
    detection_eval_map,
    detection_eval_sweep,
)
from datatransformertools_spark.operators.similarity import (
    K_CLUSTERS,
    SEM_TAU,
    TARGET_CELL,
    TOP_K,
    _assign,
    _cells_join,
    _multiprobe,
    ann_bruteforce_topk,
    ann_ivf_topk,
    ann_lsh_topk,
    ann_pq_topk,
    corpus_k,
    semdedup,
)


def _one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


class TestBboxMath:
    def _apply(self, spark, fn, **kw):
        df = spark.createDataFrame([Row(**kw)])
        cols = fn(F.col("x"), F.col("y"), F.col("w"), F.col("h"), F.col("img_w"), F.col("img_h"))
        return _one(df.select(*[c.alias(f"c{i}") for i, c in enumerate(cols)]))

    def test_clip_inside(self, spark):
        r = self._apply(spark, clip_box, x=10.0, y=20.0, w=30.0, h=40.0, img_w=100.0, img_h=100.0)
        assert (r.c0, r.c1, r.c2, r.c3) == (10.0, 20.0, 30.0, 40.0)

    def test_clip_overflow(self, spark):
        # box extends past the image → clipped to the boundary
        # (reference converter_to_yolo_data.py:84-87)
        r = self._apply(spark, clip_box, x=90.0, y=95.0, w=30.0, h=40.0, img_w=100.0, img_h=100.0)
        assert (r.c0, r.c1, r.c2, r.c3) == (90.0, 95.0, 10.0, 5.0)

    def test_clip_negative_origin(self, spark):
        r = self._apply(spark, clip_box, x=-10.0, y=-5.0, w=30.0, h=40.0, img_w=100.0, img_h=100.0)
        assert (r.c0, r.c1) == (0.0, 0.0)

    def test_yolo_zero_size_image(self, spark):
        # zero-dim image → all zeros, like the reference's guard
        # (converter_to_yolo_data.py:88-91)
        r = self._apply(spark, to_yolo, x=1.0, y=1.0, w=2.0, h=2.0, img_w=0.0, img_h=0.0)
        assert (r.c0, r.c1, r.c2, r.c3) == (0.0, 0.0, 0.0, 0.0)

    def test_roundtrip(self, spark):
        df = spark.createDataFrame([Row(x=12.0, y=24.0, w=30.0, h=40.0, img_w=200.0, img_h=100.0)])
        xc, yc, wn, hn = to_yolo(F.col("x"), F.col("y"), F.col("w"), F.col("h"), F.col("img_w"), F.col("img_h"))
        back = from_yolo(xc, yc, wn, hn, F.col("img_w"), F.col("img_h"))
        r = _one(df.select(*[c.alias(f"c{i}") for i, c in enumerate(back)]))
        assert (round(r.c0, 6), round(r.c1, 6), round(r.c2, 6), round(r.c3, 6)) == (12.0, 24.0, 30.0, 40.0)

    def test_iou_identical_and_disjoint(self, spark):
        df = spark.createDataFrame([Row(dummy=1)])
        same = iou_xywh(*(F.lit(v) for v in (0.0, 0.0, 10.0, 10.0, 0.0, 0.0, 10.0, 10.0)))
        disj = iou_xywh(*(F.lit(v) for v in (0.0, 0.0, 10.0, 10.0, 50.0, 50.0, 10.0, 10.0)))
        half = iou_xywh(*(F.lit(v) for v in (0.0, 0.0, 10.0, 10.0, 5.0, 0.0, 10.0, 10.0)))
        r = _one(df.select(same.alias("s"), disj.alias("d"), half.alias("h")))
        assert r.s == 1.0 and r.d == 0.0 and r.h == pytest.approx(5 / 15)


class TestSplitDeterminism:
    def test_split_stable_and_ratio(self, spark, sf_dir):
        a = {r.file_name: r.split for r in train_val_split(spark, sf_dir).collect()}
        b = {r.file_name: r.split for r in train_val_split(spark, sf_dir).collect()}
        assert a == b  # reproducible across runs (seeded split parity)
        frac = sum(1 for v in a.values() if v == "train") / len(a)
        assert 0.6 < frac < 0.95  # 80% in expectation


class TestDedup:
    def test_exact_dedup_finds_planted_dup(self, spark):
        rows = [
            Row(doc_id=1, text="Hello   World"),
            Row(doc_id=2, text="hello world"),  # same after normalization
            Row(doc_id=3, text="something else"),
        ]
        df = spark.createDataFrame(rows)
        # route through a temp view via the same expressions dedup_exact uses
        from datatransformertools_spark.functions.text import normalize_text

        out = (
            df.select("doc_id", F.md5(normalize_text(F.col("text"))).alias("h"))
            .groupBy("h")
            .agg(F.min("doc_id").alias("keep"), F.count(F.lit(1)).alias("n"))
        ).collect()
        by_n = sorted([(r.n, r.keep) for r in out])
        assert by_n == [(1, 3), (2, 1)]

    def test_keep_best_prefers_quality_then_min_id(self, spark, tmp_path):
        import pandas as pd

        # docs 1-3 share a text (one dup group); n_chars drives the
        # length half of the score, so doc 2 (n_chars=300) must win.
        # docs 10/11 tie exactly -> lowest doc_id survives.
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 10, 11],
                "text": ["alpha beta gamma delta"] * 3 + ["tie tie"] * 2,
                "lang": ["en"] * 5,
                "source": ["web"] * 5,
                "n_chars": [100, 300, 200, 50, 50],
            }
        ).to_parquet(tmp_path / "documents.parquet")
        out = {r.keep_doc_id: (r.n_copies, r.quality_score) for r in
               dedup_keep_best(spark, str(tmp_path)).collect()}
        assert set(out) == {2, 10}
        assert out[2] == (3, 0.875)     # 0.5*1.0 + 0.5*(300/400)
        assert out[10] == (2, 0.3125)   # 0.5*0.5 + 0.5*(50/400)

    def test_winnowing_guarantee_on_planted_overlap(self, spark, tmp_path):
        import pandas as pd

        # docs 1/2 share a verbatim 40-token run — far above the
        # K_GRAM + WINNOW_G - 1 = 11 guarantee length, so winnowing
        # must select well over MIN_SHARED_FP shared fingerprints
        # (expected ~2·33/(G+1) ≈ 13 distinct); doc 3 shares nothing.
        shared = " ".join(f"tok{i}" for i in range(40))
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "aaa bbb ccc " + shared + " xxx yyy zzz",
                    "one two three four five " + shared + " six seven",
                    " ".join(f"other{i}" for i in range(30)),
                ],
                "lang": ["en"] * 3,
                "source": ["web"] * 3,
                "n_chars": [100, 100, 100],
            }
        ).to_parquet(tmp_path / "documents.parquet")
        pairs = {(r.doc_a, r.doc_b): r.n_shared for r in dedup_winnowing(spark, str(tmp_path)).collect()}
        assert (1, 2) in pairs and pairs[(1, 2)] >= 1
        assert all(3 not in p for p in pairs)

    def test_jaccard_pairs_are_high_sim(self, spark, sf_dir):
        pairs = dedup_ngram_jaccard(spark, sf_dir).collect()
        assert all(r.jaccard >= 0.3 for r in pairs)

    def test_shingle_df_cap_bounds_boilerplate_joins(self, spark, tmp_path):
        import pandas as pd

        # 60 docs (> MAX_SHINGLE_DF = 50) that are mostly one shared
        # boilerplate run: uncapped, every pair shares 3 of its 4
        # shingles (jaccard 0.6) -> 60*59/2 = 1770 pairs and a d²
        # fan-out on the hot shingle. The DF cap drops the
        # boilerplate shingles from index AND sizes, so the only
        # surviving pair is the genuinely duplicated 200/201.
        n_boiler = MAX_SHINGLE_DF + 10
        rare = " ".join(f"r{i}" for i in range(12))
        pd.DataFrame(
            {
                "doc_id": list(range(n_boiler)) + [200, 201],
                "text": [f"c0 c1 c2 c3 c4 u{i}" for i in range(n_boiler)] + [rare, rare],
                "lang": ["en"] * (n_boiler + 2),
                "source": ["web"] * (n_boiler + 2),
                "n_chars": [24] * (n_boiler + 2),
            }
        ).to_parquet(tmp_path / "documents.parquet")
        jac = {(r.doc_a, r.doc_b): r.jaccard for r in dedup_ngram_jaccard(spark, str(tmp_path)).collect()}
        assert jac == {(200, 201): 1.0}
        cont = {(r.doc_a, r.doc_b) for r in dedup_containment(spark, str(tmp_path)).collect()}
        assert cont == {(200, 201), (201, 200)}

    def test_components_consistent_with_pairs(self, spark, sf_dir):
        comp = {r.doc_id: r.component for r in dedup_components(spark, sf_dir).collect()}
        pairs = dedup_minhash_lsh(spark, sf_dir).collect()
        assert len(pairs) > 0
        # every candidate pair must have collapsed into one component
        for r in pairs:
            assert comp[r.doc_a] == comp[r.doc_b]
        # components are canonical: the component id is a member's min id
        assert all(comp[d] <= d for d in comp)
        # and at least one real cluster exists (not all singletons)
        assert any(comp[d] != d for d in comp)


class TestGraph:
    def test_pagerank_mass_conserved(self, spark, sf_dir):
        from datatransformertools_spark.operators.graph import part_pagerank

        rows = part_pagerank(spark, sf_dir).collect()
        assert len(rows) > 0
        # symmetric edges → no dangling mass: Σ pagerank == 1 up to
        # the per-node 6-dp quantization
        total = sum(r.pagerank for r in rows)
        assert abs(total - 1.0) < 5e-4, total
        assert all(r.pagerank > 0 for r in rows)
        # rank follows connectivity: the top-degree decile must
        # outrank the bottom decile on average
        by_deg = sorted(rows, key=lambda r: r.n_neighbors)
        lo = by_deg[: len(rows) // 10]
        hi = by_deg[-len(rows) // 10 :]
        assert sum(r.pagerank for r in hi) / len(hi) > sum(r.pagerank for r in lo) / len(lo)


class TestSimilarity:
    def test_lsh_recall_vs_bruteforce(self, spark, sf_dir):
        exact = {(r.query_id, r.neighbor_id) for r in ann_bruteforce_topk(spark, sf_dir).collect()}
        approx = {(r.query_id, r.neighbor_id) for r in ann_lsh_topk(spark, sf_dir).collect()}
        assert len(approx) > 0
        # 8-bit sign-LSH on near-orthogonal random vectors is a weak
        # filter; demand meaningful-but-partial recall, not magic.
        recall = len(exact & approx) / len(exact)
        assert recall > 0.05, f"recall {recall}"

    def test_pq_recall_vs_bruteforce(self, spark, sf_dir):
        exact = {(r.query_id, r.neighbor_id) for r in ann_bruteforce_topk(spark, sf_dir).collect()}
        approx = {(r.query_id, r.neighbor_id) for r in ann_pq_topk(spark, sf_dir).collect()}
        assert len(approx) > 0
        # 16 codes × 8 subspaces on near-orthogonal random vectors:
        # the ADC shortlist recovers a meaningful fraction of the
        # exact top-k (measured ~0.4 at sf0.01)
        recall = len(exact & approx) / len(exact)
        assert recall > 0.15, f"recall {recall}"

    def test_ivf_shape_and_scores(self, spark, sf_dir):
        rows = ann_ivf_topk(spark, sf_dir).collect()
        assert len(rows) > 0
        per_query = {}
        for r in rows:
            per_query.setdefault(r.query_id, []).append(r)
        exact = {
            (r.query_id, r.neighbor_id, r.cos_sim)
            for r in ann_bruteforce_topk(spark, sf_dir).collect()
        }
        for q, rs in per_query.items():
            assert len(rs) <= TOP_K
            ranks = sorted(r.rank for r in rs)
            assert ranks == list(range(1, len(rs) + 1))
            # IVF scores are exact cosines — any pair IVF shares with
            # brute force must carry the identical score.
            for r in rs:
                bf = {(qq, nn) for qq, nn, _ in exact}
                if (r.query_id, r.neighbor_id) in bf:
                    assert (r.query_id, r.neighbor_id, r.cos_sim) in exact


    def test_semdedup_survivor_invariants(self, spark, sf_dir):
        from datatransformertools_spark.sources.tables import load_table

        rows = semdedup(spark, sf_dir).collect()
        n_vecs = load_table(spark, sf_dir, "embeddings").count()
        assert len(rows) == n_vecs  # verdict for every vector, once
        # keep verdict is exactly the nn_sim >= tau predicate
        for r in rows:
            dropped = r.nn_sim is not None and r.nn_sim >= SEM_TAU
            assert r.keep == (0 if dropped else 1)
        # each cluster's lowest vec_id has no lower-id mate -> kept
        by_cluster: dict[int, list] = {}
        for r in rows:
            by_cluster.setdefault(r.cluster, []).append(r)
        for members in by_cluster.values():
            head = min(members, key=lambda r: r.vec_id)
            assert head.nn_sim is None and head.keep == 1
        # the op must actually dedup something on the test corpus
        assert any(r.keep == 0 for r in rows)


class TestEvaluation:
    def test_detection_eval_consistency(self, spark, sf_dir):
        r = _one(detection_eval(spark, sf_dir))
        assert r.tp > 0 and r.fp > 0 and r.fn > 0
        assert r.precision == pytest.approx(r.tp / (r.tp + r.fp), abs=1e-5)
        assert r.recall == pytest.approx(r.tp / (r.tp + r.fn), abs=1e-5)

    def test_ap_invariants(self, spark, sf_dir):
        rows = detection_eval_ap(spark, sf_dir).collect()
        assert len(rows) == 6  # one row per class with GT
        for r in rows:
            assert 0.0 <= r.ap50 <= 1.0
            assert 0 <= r.tp <= min(r.n_gt, r.n_pred)
            # AP is bounded above by recall (the PR curve's rightmost
            # extent): envelope precision <= 1 on each of tp recall steps
            assert r.ap50 <= r.tp / r.n_gt + 1e-6
        m = _one(detection_eval_map(spark, sf_dir))
        assert m.n_classes == 6
        expect = sum(round(r.ap50 * 1e6) for r in rows) / (6 * 1e6)
        assert m.map50 == pytest.approx(expect, abs=2e-6)
        # the planted FP/FN/class-flip corruption must keep mAP
        # strictly inside (0, 1) — a degenerate 0/1 means the ranking
        # or matching collapsed
        assert 0.0 < m.map50 < 1.0


    def test_greedy_kernel_claims_in_its_sort_order(self):
        """One image where the two processing orders disagree: pred 1
        (low conf) and pred 2 (high conf) both prefer GT 10. In
        pred_id order pred 1 claims it; in confidence order pred 2
        does, and the other prediction falls back to GT 11."""
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "image_id": [7, 7, 7, 7],
                "pred_id": [1, 1, 2, 2],
                "gt_id": [10, 11, 10, 11],
                "cls": [0, 0, 0, 0],
                "conf": [0.3, 0.3, 0.9, 0.9],
                "iou": [0.8, 0.55, 0.7, 0.6],
            }
        )

        def claims(order):
            out = _make_greedy_kernel(*order)(pdf)
            return sorted(zip(out["pred_id"], out["gt_id"]))

        assert claims(_PRED_ID_ORDER) == [(1, 10), (2, 11)]
        assert claims(_CONF_ORDER) == [(1, 11), (2, 10)]

    def test_empty_prediction_set_scores_zero(self, spark, sf_dir, tmp_path):
        """Events 1–3 yield 3 GT boxes but no prediction: every
        jittered one has conf = event_id % 100 / 100 < CONF_THRESHOLD
        and none is a far duplicate (event_id % 19 != 0). The global
        P/R/F1 queries and their oracles then report 0.0, not a
        division by zero."""
        import duckdb
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from datatransformertools_spark import registry

        events = pq.read_table(f"{sf_dir}/events.parquet")
        pq.write_table(
            events.filter(pc.is_in(events["event_id"], value_set=pa.array([1, 2, 3]))),
            tmp_path / "events.parquet",
        )
        duck = duckdb.connect()
        duck.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')")
        cols = ["tp", "fp", "fn", "precision", "recall", "f1"]
        want = (0, 0, 3, 0.0, 0.0, 0.0)
        for name in ("detection_eval", "detection_eval_greedy", "detection_eval_sweep"):
            sdf = registry.queries()[name](spark, str(tmp_path))
            got = [tuple(r[c] for c in cols) for r in sdf.collect()]
            rel = duck.sql(registry.oracle_sql()[name])
            oracle = [tuple(dict(zip(rel.columns, r))[c] for c in cols) for r in rel.fetchall()]
            n = 5 if name == "detection_eval_sweep" else 1  # one row per IoU threshold
            assert got == [want] * n, name
            assert oracle == [want] * n, name
        duck.close()


class TestBatchInference:
    def test_detections_clip_and_threshold(self, spark, sf_dir):
        from datatransformertools_spark.operators.multimodal import (
            CONF_THRESHOLD,
            PAGE_SIZE,
            batch_inference,
        )

        rows = batch_inference(spark, sf_dir).collect()
        assert len(rows) > 0
        for r in rows:
            assert r.conf >= CONF_THRESHOLD
            assert 0 <= r.x and r.x + r.w <= PAGE_SIZE
            assert 0 <= r.y and r.y + r.h <= PAGE_SIZE
            assert r.category_name in {"Background", "Text", "Title", "List", "Table", "Figure"}


class TestEvalSweep:
    def test_sweep_monotone_in_threshold(self, spark, sf_dir):
        rows = sorted(detection_eval_sweep(spark, sf_dir).collect(), key=lambda r: r.iou_threshold)
        assert len(rows) == 5
        # stricter IoU can only lose matches
        tps = [r.tp for r in rows]
        assert tps == sorted(tps, reverse=True)
        assert rows[0].tp > 0


class TestGroupedMap:
    def test_user_mad_matches_driver_math(self, spark, sf_dir):
        import numpy as np

        from datatransformertools_spark.operators.events import events_user_mad
        from datatransformertools_spark.sources.tables import load_table

        got = {r.user_id: (r.n_events, r.median_value, r.mad_value)
               for r in events_user_mad(spark, sf_dir).collect()}
        pdf = load_table(spark, sf_dir, "events").select("user_id", "value").toPandas()
        for user_id, grp in pdf.groupby("user_id"):
            med = float(np.median(grp["value"]))
            mad = float(np.median(np.abs(grp["value"] - med)))
            n, gmed, gmad = got[user_id]
            assert n == len(grp)
            assert abs(gmed - med) < 1e-5 and abs(gmad - mad) < 1e-5


class TestMultimodal:
    def test_frame_sampling_explodes_rows(self, spark, sf_dir):
        from datatransformertools_spark.operators.multimodal import media_frame, sample_frames

        src = media_frame(spark, sf_dir)
        frames = sample_frames(src, every_n=2).collect()
        assert len(frames) > src.count()  # fan-out happened
        by_doc = {}
        for r in frames:
            by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
        for idxs in by_doc.values():
            assert sorted(idxs) == list(range(0, max(idxs) + 1, 2))


class TestKScaling:
    """Corpus-derived K (VERDICT r5 #2): the blocking family's
    "clusters ∝ N" claim is code, and the broadcast-join assignment
    path past the literal-centroid codegen ceiling is semantically
    identical to the literal path."""

    def test_corpus_k_floor_at_shipped_sf(self, spark, sf_dir):
        from datatransformertools_spark.sources.tables import load_table

        n = load_table(spark, sf_dir, "embeddings").count()
        k = corpus_k(spark, sf_dir)
        assert k == max(K_CLUSTERS, -(-n // TARGET_CELL))
        # every shipped SF (500/500/2000 vectors) lands ON the floor,
        # which is what keeps the unrolled K=8 oracle chain exact
        assert k == K_CLUSTERS

    def test_corpus_k_scales_past_floor(self):
        # the formula itself: 100× corpus → ~100× clusters
        for n in (10_000, 1_000_000, 100_000_000):
            k = max(K_CLUSTERS, -(-n // TARGET_CELL))
            assert k >= n / TARGET_CELL
            assert k * TARGET_CELL < n + TARGET_CELL

    def test_assign_join_path_matches_literal(self, spark):
        rows = [
            (i, [float((i * 7 + d * 3) % 11) for d in range(4)]) for i in range(40)
        ]
        df = spark.createDataFrame(rows, "vec_id int, v array<double>")
        cents = [[float((k + d) % 5) for d in range(4)] for k in range(6)]
        lit = {r["vec_id"]: r["cluster"] for r in _assign(df, cents).collect()}
        join = {
            r["vec_id"]: r["cluster"]
            for r in _cells_join(df, cents, 1, "vec_id").collect()
        }
        assert lit == join

    def test_multiprobe_join_path_matches_literal(self, spark):
        rows = [
            (i, [float((i * 5 + d * 2) % 13) for d in range(4)]) for i in range(30)
        ]
        df = spark.createDataFrame(rows, "vec_id int, v array<double>")
        cents = [[float((k * 3 + d) % 7) for d in range(4)] for k in range(5)]
        lit = {
            (r["vec_id"], r["rn"], r["cluster"])
            for r in _multiprobe(df, cents, max_probe=3, keep_rank=True).collect()
        }
        join = {
            (r["vec_id"], r["rn"], r["cluster"])
            for r in _cells_join(df, cents, 3, "vec_id").collect()
        }
        assert lit == join
