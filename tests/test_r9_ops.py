"""Round-9 additions: the multimodal PyMuPDF import probe in
pdf_to_pages and the minhash pair-frame memo behavior."""

from __future__ import annotations

import sys


class _FakePixmap:
    def __init__(self, w, h):
        self.width, self.height = w, h

    def tobytes(self, fmt):
        assert fmt == "png"
        return f"png:{self.width}x{self.height}".encode()


class _FakePage:
    def __init__(self, w, h):
        self._w, self._h = w, h

    def get_pixmap(self):
        return _FakePixmap(self._w, self._h)


class _FakeFitzDoc:
    def __init__(self, pages):
        self._pages = pages
        self.closed = False

    def __iter__(self):
        return iter(self._pages)

    def close(self):
        self.closed = True


class TestPdfRenderProbe:
    def test_no_fitz_falls_back_to_stub(self, monkeypatch):
        # absent/broken PyMuPDF — the probe must memoize the failed
        # import and return None (stub path). Forced deterministically
        # (sys.modules["fitz"] = None makes the import raise) so the
        # test passes even on machines that DO have PyMuPDF installed.
        from datatransformertools_spark.operators.multimodal import (
            _make_pdf_render_probe,
        )

        monkeypatch.setitem(sys.modules, "fitz", None)
        probe = _make_pdf_render_probe()
        assert probe(b"%PDF-1.4 whatever") is None
        assert probe(b"plain text") is None

    def test_fake_fitz_upgrades_to_real_pages(self, monkeypatch):
        """When fitz imports AND the payload opens, the probe returns
        real per-page (width, height, png_bytes) — the upgrade path
        the day real PDFs arrive."""
        from datatransformertools_spark.operators.multimodal import (
            _make_pdf_render_probe,
        )

        doc = _FakeFitzDoc([_FakePage(612, 792), _FakePage(400, 300)])

        class _FakeFitz:
            @staticmethod
            def open(stream, filetype):
                assert filetype == "pdf"
                if not stream.startswith(b"%PDF"):
                    raise ValueError("not a pdf")
                return doc

        monkeypatch.setitem(sys.modules, "fitz", _FakeFitz)
        probe = _make_pdf_render_probe()
        pages = probe(b"%PDF-1.4 payload")
        assert pages == [
            (612, 792, b"png:612x792"),
            (400, 300, b"png:400x300"),
        ]
        assert doc.closed  # handle released even on success
        # a non-PDF payload under a working fitz still stubs
        assert probe(b"plain text") is None

    def test_fake_fitz_empty_doc_stubs(self, monkeypatch):
        from datatransformertools_spark.operators.multimodal import (
            _make_pdf_render_probe,
        )

        class _FakeFitz:
            @staticmethod
            def open(stream, filetype):
                return _FakeFitzDoc([])

        monkeypatch.setitem(sys.modules, "fitz", _FakeFitz)
        probe = _make_pdf_render_probe()
        assert probe(b"%PDF-1.4") is None  # zero pages → stub fan-out


class TestWatermarkDelayCurve:
    def test_monotone_and_aligned_with_audit(self, spark, sf_dir):
        """keep_share must be a CDF (non-decreasing in delay, total
        n constant), and each grid point must equal the audit
        histogram's cumulative share at the same bound — the two
        faces describe one distribution."""
        from datatransformertools_spark.operators.events import (
            WATERMARK_DELAY_GRID_US,
            events_watermark_audit,
            watermark_delay_curve,
        )

        rows = sorted(
            watermark_delay_curve(spark, sf_dir).collect(), key=lambda r: r["delay_us"]
        )
        assert [r["delay_us"] for r in rows] == sorted(WATERMARK_DELAY_GRID_US)
        shares = [r["keep_share"] for r in rows]
        assert shares == sorted(shares)  # CDF
        totals = {r["n_kept"] + r["n_dropped"] for r in rows}
        assert len(totals) == 1  # same population at every delay
        kept = {r["delay_us"]: r["n_kept"] for r in rows}
        total = totals.pop()

        from datatransformertools_spark.operators.events import (
            LATENESS_BUCKETS,
            LATENESS_OVERFLOW,
        )

        hist = {
            r["lateness_bucket"]: r["n_events"]
            for r in events_watermark_audit(spark, sf_dir).collect()
        }
        # the CLOSED audit buckets share bounds with the first grid
        # points (<= convention both sides), so the running bucket sum
        # must reproduce n_kept at each of those bounds exactly; the
        # unbounded overflow bucket is deliberately NOT zipped to the
        # 1-day grid point (an event later than 1 day would sit in
        # overflow yet be dropped at that delay)
        cum = 0
        for bound, label in LATENESS_BUCKETS:
            cum += hist.get(label, 0)
            assert kept[bound] == cum, (bound, kept[bound], cum)
        # the 1-day point admits at least everything the closed
        # buckets admit and at most the population; it equals the
        # population exactly when nothing is >1 day late, which the
        # overflow count can bound from one side only
        one_day = max(WATERMARK_DELAY_GRID_US)
        assert cum <= kept[one_day] <= total
        assert kept[one_day] >= total - hist.get(LATENESS_OVERFLOW, 0)


class TestAnnNdcgEval:
    def test_matches_hand_computed_ndcg(self, spark, sf_dir):
        """Recompute NDCG@k / MRR naively in Python from the two
        top-k frames and require the distributed op to agree exactly
        (same discount literals, same rounding convention)."""
        from datatransformertools_spark.operators.similarity import (
            _IDCG,
            _NDCG_DISCOUNTS,
            TOP_K,
            ann_bruteforce_topk,
            ann_lsh_topk,
            ann_ndcg_eval,
        )

        truth = {
            (r["query_id"], r["neighbor_id"]): r["rank"]
            for r in ann_bruteforce_topk(spark, sf_dir).collect()
        }
        approx: dict[int, list[tuple[int, int]]] = {}
        for r in ann_lsh_topk(spark, sf_dir).collect():
            approx.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
        out = {r["query_id"]: r for r in ann_ndcg_eval(spark, sf_dir).collect()}
        qids = {q for q, _ in truth}
        assert set(out) == qids  # every truth query reports, even LSH-empty ones
        for q in qids:
            dcg, mrr = 0.0, 0.0
            for rank, nb in approx.get(q, []):
                tr = truth.get((q, nb))
                rel = float(TOP_K + 1 - tr) if tr is not None else 0.0
                dcg += rel * _NDCG_DISCOUNTS[rank - 1]
                if tr == 1:
                    mrr = 1.0 / rank
            assert out[q]["ndcg_at_k"] == round(dcg / _IDCG + 1e-9, 6), q
            assert out[q]["mrr"] == round(mrr + 1e-9, 6), q
            assert 0.0 <= out[q]["ndcg_at_k"] <= 1.0
            assert 0.0 <= out[q]["mrr"] <= 1.0

    def test_rank_awareness_vs_recall(self, spark, sf_dir):
        """NDCG must never exceed what recall allows: ndcg == 1
        requires every true neighbor present (recall == 1), and
        zero hits forces ndcg == 0."""
        from datatransformertools_spark.operators.similarity import (
            ann_ndcg_eval,
            ann_recall_eval,
        )

        recall = {r["query_id"]: r["recall_at_k"] for r in ann_recall_eval(spark, sf_dir).collect()}
        for r in ann_ndcg_eval(spark, sf_dir).collect():
            if r["ndcg_at_k"] >= 1.0:
                assert recall[r["query_id"]] >= 1.0, r
            if recall[r["query_id"]] == 0.0:
                assert r["ndcg_at_k"] == 0.0, r


class TestTokenBudgetSample:
    def test_matches_naive_prefix_rule(self, spark, sf_dir):
        """The two-grain bucketed take-while must reproduce the naive
        per-source ordered prefix rule exactly (this is the test that
        the bucket decomposition — full buckets + boundary-bucket
        doc-level pass — loses and double-counts nothing)."""
        from pyspark.sql import functions as F

        from datatransformertools_spark.functions.hashing import md5_long
        from datatransformertools_spark.functions.text import normalize_text, tokens
        from datatransformertools_spark.operators.corpus import (
            TB_BUCKETS,
            TB_BUDGET_TOKENS,
            TB_SALT,
            token_budget_sample,
        )
        from datatransformertools_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
        h = md5_long(F.col("doc_id").cast("string"), salt=TB_SALT)
        base = docs.select(
            "source",
            "doc_id",
            h.alias("h"),
            F.size(tokens(normalize_text(F.col("text")))).cast("long").alias("n"),
        ).collect()
        per: dict[str, list[tuple[int, int, int, int]]] = {}
        for r in base:
            per.setdefault(r["source"], []).append(
                (r["h"] % TB_BUCKETS, r["h"], r["doc_id"], r["n"])
            )
        expected = {}
        for src, lst in per.items():
            lst.sort()
            cum = dk = tk = 0
            for _, _, _, n in lst:
                cum += n
                if cum <= TB_BUDGET_TOKENS:
                    dk += 1
                    tk += n
            expected[src] = (len(lst), sum(x[3] for x in lst), dk, tk)

        out = {r["source"]: r for r in token_budget_sample(spark, sf_dir).collect()}
        assert set(out) == set(expected)
        any_cut = False
        for src, (dt, tt, dk, tk) in expected.items():
            r = out[src]
            got = (r["docs_total"], r["tokens_total"], r["docs_kept"], r["tokens_kept"])
            assert got == (dt, tt, dk, tk), (src, got, (dt, tt, dk, tk))
            assert r["tokens_kept"] <= TB_BUDGET_TOKENS
            any_cut = any_cut or dk < dt
        # the budget must actually bite somewhere, or the boundary
        # path (the interesting half of the op) never executed
        assert any_cut

    def test_deterministic_across_runs(self, spark, sf_dir):
        from datatransformertools_spark.operators.corpus import token_budget_sample

        a = sorted(map(tuple, token_budget_sample(spark, sf_dir).collect()))
        b = sorted(map(tuple, token_budget_sample(spark, sf_dir).collect()))
        assert a == b


class TestTokenBudgetCurve:
    def test_grid_row_matches_sampler_and_naive(self, spark, sf_dir):
        """Two independent checks: (1) the curve's budget-1000 row
        must equal the sampler's per-source outputs summed (the two
        ops share TB_SALT/TB_BUCKETS and the prefix rule); (2) every
        grid row must match a naive Python recompute from the raw
        ordered stream."""
        from pyspark.sql import functions as F

        from datatransformertools_spark.functions.hashing import md5_long
        from datatransformertools_spark.functions.text import normalize_text, tokens
        from datatransformertools_spark.operators.corpus import (
            TB_BUCKETS,
            TB_BUDGET_GRID,
            TB_BUDGET_TOKENS,
            TB_SALT,
            token_budget_curve,
            token_budget_sample,
        )
        from datatransformertools_spark.sources.tables import load_table

        curve = {r["budget"]: r for r in token_budget_curve(spark, sf_dir).collect()}
        assert sorted(curve) == sorted(TB_BUDGET_GRID)

        sampler = token_budget_sample(spark, sf_dir).collect()
        assert TB_BUDGET_TOKENS in curve
        row = curve[TB_BUDGET_TOKENS]
        assert row["docs_kept"] == sum(r["docs_kept"] for r in sampler)
        assert row["tokens_kept"] == sum(r["tokens_kept"] for r in sampler)

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
        h = md5_long(F.col("doc_id").cast("string"), salt=TB_SALT)
        base = docs.select(
            "source",
            h.alias("h"),
            F.col("doc_id"),
            F.size(tokens(normalize_text(F.col("text")))).cast("long").alias("n"),
        ).collect()
        per: dict[str, list[tuple[int, int, int, int]]] = {}
        for r in base:
            per.setdefault(r["source"], []).append(
                (r["h"] % TB_BUCKETS, r["h"], r["doc_id"], r["n"])
            )
        total_tokens = sum(r["n"] for r in base)
        for g in TB_BUDGET_GRID:
            dk = tk = sat = 0
            for src, lst in per.items():
                lst_sorted = sorted(lst)
                cum = 0
                for _, _, _, n in lst_sorted:
                    cum += n
                    if cum <= g:
                        dk += 1
                        tk += n
                if sum(x[3] for x in lst) > g:
                    sat += 1
            r = curve[g]
            assert (r["docs_kept"], r["tokens_kept"], r["sources_saturated"]) == (dk, tk, sat), g
            assert r["tokens_kept"] <= g * len(per)
            assert abs(r["token_retention"] - (tk / total_tokens)) < 2e-6

    def test_curve_is_monotone(self, spark, sf_dir):
        """Bigger budgets keep weakly more and saturate weakly fewer
        sources; retention is a CDF in the budget."""
        from datatransformertools_spark.operators.corpus import token_budget_curve

        rows = sorted(token_budget_curve(spark, sf_dir).collect(), key=lambda r: r["budget"])
        for a, b in zip(rows, rows[1:]):
            assert a["docs_kept"] <= b["docs_kept"]
            assert a["tokens_kept"] <= b["tokens_kept"]
            assert a["sources_saturated"] >= b["sources_saturated"]
            assert a["token_retention"] <= b["token_retention"]


class TestLshTablesRecallCurve:
    def test_monotone_and_anchored_to_fixed_index(self, spark, sf_dir):
        """More tables can only add candidates, so recall is
        non-decreasing in t; and the t = N_TABLES row must equal
        ann_recall_eval's aggregate (same index at full width)."""
        from datatransformertools_spark.operators.similarity import (
            N_TABLES,
            TOP_K,
            N_QUERIES,
            ann_recall_eval,
            lsh_tables_recall_curve,
        )

        rows = sorted(
            lsh_tables_recall_curve(spark, sf_dir).collect(), key=lambda r: r["tables"]
        )
        assert [r["tables"] for r in rows] == list(range(1, N_TABLES + 1))
        hits = [r["n_hits"] for r in rows]
        assert hits == sorted(hits)  # monotone in the table budget
        for r in rows:
            assert 0.0 <= r["recall"] <= 1.0
            assert abs(r["recall"] - r["n_hits"] / (N_QUERIES * TOP_K)) < 2e-6

        full_width_hits = sum(
            r["n_hits"] for r in ann_recall_eval(spark, sf_dir).collect()
        )
        assert rows[-1]["n_hits"] == full_width_hits
