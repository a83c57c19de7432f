"""Detection evaluation — reference `Test/accuracy.ipynb` parity.

The notebook loops pages in Python and greedily matches predictions
to ground truth at IoU@0.5, then reports global and per-class
precision/recall/F1. Here the same evaluation is a declarative
plan:

- candidate pairs come from an equi-join on (image_id, class) — at
  100 TB the shuffle is keyed on the image, so each executor
  matches its own images; there is never a global pairwise blowup;
- one-to-one assignment is "mutual best": a pair is matched iff it
  is rank 1 by IoU for BOTH its prediction and its ground-truth box
  (two window functions). This is deterministic, distributed, and a
  documented simplification of greedy matching (the notebook itself
  labels its mAP "simplified");
- ties broken by ids so results are stable across engines.

Ground truth and predictions are derived deterministically from
`events` (same arithmetic in the DuckDB oracle): predictions are
the GT boxes jittered by a few pixels, with ~1/13 class flips,
~1/17 dropped (→ FN), and ~1/19 spawning a far-away duplicate
(→ FP) — so TP/FP/FN paths are all exercised and value-checked.
"""

from __future__ import annotations

from textwrap import indent

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datatransformertools_spark.caching import Memo
from datatransformertools_spark.functions.bbox import clip_box, iou_xywh, iou_xywh_sql
from datatransformertools_spark.operators.annotations import (
    _CLIPPED_SQL,
    ANN_BASE_SQL,
    CONF_THRESHOLD,
    N_CLASSES,
    annotations_df,
)
from datatransformertools_spark.sources.tables import fan_out

IOU_THRESHOLD = 0.5


def _gt_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    ann = annotations_df(spark, sf_dir)
    cx, cy, cw, ch = clip_box(F.col("x"), F.col("y"), F.col("w"), F.col("h"), F.col("img_w"), F.col("img_h"))
    return ann.select(
        F.col("ann_id").alias("gt_id"),
        "image_id",
        "cls",
        cx.alias("gx"), cy.alias("gy"), cw.alias("gw"), ch.alias("gh"),
    )


def _pred_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    ann = annotations_df(spark, sf_dir)
    eid = F.col("ann_id")
    # jittered predictions (drop every 17th annotation → FN)
    jit = ann.filter((eid % 17) != 0).select(
        eid.alias("pred_id"),
        "image_id",
        F.when((eid % 13) == 0, (F.col("cls") + 1) % N_CLASSES).otherwise(F.col("cls")).cast("int").alias("cls"),
        (F.col("x") + ((eid % 7) - 3).cast("double")).alias("px"),
        (F.col("y") + ((eid % 11) - 5).cast("double")).alias("py"),
        F.col("w").alias("pw"),
        F.col("h").alias("ph"),
        F.col("conf"),
        "img_w", "img_h",
    )
    # far-away duplicates (every 19th annotation → FP)
    far = ann.filter((eid % 19) == 0).select(
        (eid + 10000000).alias("pred_id"),
        "image_id",
        F.col("cls"),
        (F.col("x") + 300.0).alias("px"),
        (F.col("y") + 250.0).alias("py"),
        F.col("w").alias("pw"),
        F.col("h").alias("ph"),
        F.lit(0.9).alias("conf"),
        "img_w", "img_h",
    )
    both = jit.unionByName(far).filter(F.col("conf") >= CONF_THRESHOLD)
    cx, cy, cw, ch = clip_box(F.col("px"), F.col("py"), F.col("pw"), F.col("ph"), F.col("img_w"), F.col("img_h"))
    return both.select(
        "pred_id", "image_id", "cls", "conf",
        cx.alias("px"), cy.alias("py"), cw.alias("pw"), ch.alias("ph"),
    )


_GT_SQL = f"""
{ANN_BASE_SQL},
{_CLIPPED_SQL},
gt AS (
  SELECT ann_id AS gt_id, image_id, cls, cx AS gx, cy AS gy, cw AS gw, ch AS gh
  FROM clipped2
),
pred_raw AS (
  SELECT ann_id AS pred_id, image_id,
         CAST(CASE WHEN ann_id % 13 = 0 THEN (cls + 1) % {N_CLASSES} ELSE cls END AS INTEGER) AS cls,
         x + CAST((ann_id % 7) - 3 AS DOUBLE) AS px,
         y + CAST((ann_id % 11) - 5 AS DOUBLE) AS py,
         w AS pw, h AS ph, conf, img_w, img_h
  FROM ann_base WHERE ann_id % 17 <> 0
  UNION ALL
  SELECT ann_id + 10000000 AS pred_id, image_id, cls,
         x + 300.0 AS px, y + 250.0 AS py, w AS pw, h AS ph,
         0.9 AS conf, img_w, img_h
  FROM ann_base WHERE ann_id % 19 = 0
),
pred AS (
  SELECT pred_id, image_id, cls, conf,
         cx AS px, cy AS py,
         greatest(0.0, least(pw, img_w - cx)) AS pw,
         greatest(0.0, least(ph, img_h - cy)) AS ph
  FROM (
    SELECT *, greatest(0.0, least(px, img_w)) AS cx,
              greatest(0.0, least(py, img_h)) AS cy
    FROM pred_raw WHERE conf >= {CONF_THRESHOLD}
  )
)
"""


def _box(alias: str, prefix: str = "p") -> tuple[str, str, str, str]:
    """The ``(x, y, w, h)`` columns of ``alias`` for the IoU twin."""
    return tuple(f"{alias}.{prefix}{c}" for c in "xywh")


_PRED_BOX, _GT_BOX = _box("p"), _box("g", "g")

_PAIRS_SQL = f"""
pairs AS (
  SELECT p.pred_id, g.gt_id, p.image_id, p.cls, p.conf,
{indent(iou_xywh_sql(_PRED_BOX, _GT_BOX), "    ")} AS iou
  FROM pred p
  JOIN gt g ON p.image_id = g.image_id AND p.cls = g.cls
)
"""

_MATCHED_SQL = """
ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY pred_id ORDER BY iou DESC, gt_id)  AS rn_p,
    row_number() OVER (PARTITION BY gt_id  ORDER BY iou DESC, pred_id) AS rn_g
  FROM pairs WHERE iou >= 0.5
),
matched AS (SELECT * FROM ranked WHERE rn_p = 1 AND rn_g = 1)
"""

# DuckDB twin of `_counts_prf`'s rounded P/R/F1 over tp, n_pred and n_gt
_PRF_SQL = """round(CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END + 1e-9, 6) AS precision,
  round(CASE WHEN n_gt > 0 THEN CAST(tp AS DOUBLE) / n_gt ELSE 0.0 END + 1e-9, 6)   AS recall,
  round(CASE WHEN CAST(tp AS DOUBLE) / n_pred + CAST(tp AS DOUBLE) / n_gt > 0
             THEN 2 * (CAST(tp AS DOUBLE) / n_pred) * (CAST(tp AS DOUBLE) / n_gt)
                  / (CAST(tp AS DOUBLE) / n_pred + CAST(tp AS DOUBLE) / n_gt)
             ELSE 0.0 END + 1e-9, 6) AS f1"""


# Cross-query stage-table memos (r12): ELEVEN registered evaluation
# queries consume the IoU pair table, and SIX consume the
# mutual-best matching over it; the per-query track() they replaced
# meant every one of them re-derived annotations → preds/gt → pair
# join → windows (release_caches() runs per query in bench). One
# persisted build per (session, sf_dir) now serves the family — the
# same contract as the dedup shingle/pair memos, and the stage table
# an evaluation pipeline would write anyway at cluster scale.
_PAIRS_MEMO = Memo()
_MUTUAL_MEMO = Memo()


def _pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        # fan the probe side out: AQE broadcast-joins the small gt side
        p = fan_out(_pred_df(spark, sf_dir), "image_id")
        g = _gt_df(spark, sf_dir)
        joined = p.join(g, ["image_id", "cls"])
        iou = iou_xywh(
            F.col("px"), F.col("py"), F.col("pw"), F.col("ph"),
            F.col("gx"), F.col("gy"), F.col("gw"), F.col("gh"),
        )
        # `conf` rides along for the confidence-ranked AP.
        return joined.select(
            "pred_id", "gt_id", "image_id", "cls", "conf", iou.alias("iou")
        )

    return _PAIRS_MEMO.get_or_build(spark, sf_dir, build)


def _mutual_best_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global mutual-best matching over ALL pairs — no IoU
    pre-filter. Filtering ``iou ≥ t`` keeps a PREFIX of each
    (iou desc, id) ranking, so rank-1-after-filter equals
    global-rank-1 whenever that row passes t, and the filtered
    partition is empty otherwise: matched@t ≡ mutual_best ∩
    (iou ≥ t) for every threshold. One pair of windows therefore
    serves eval@0.5, per-class, macro AND the whole threshold
    sweep — the sweep needs no 5× pair fan-out. Memoized: one
    materialization feeds every consumer query."""

    def build() -> DataFrame:
        pairs = _pairs_df(spark, sf_dir)
        rn_p = F.row_number().over(
            Window.partitionBy("pred_id").orderBy(F.col("iou").desc(), F.col("gt_id"))
        )
        rn_g = F.row_number().over(
            Window.partitionBy("gt_id").orderBy(F.col("iou").desc(), F.col("pred_id"))
        )
        return (
            pairs.withColumn("rn_p", rn_p)
            .withColumn("rn_g", rn_g)
            .filter((F.col("rn_p") == 1) & (F.col("rn_g") == 1))
        )

    return _MUTUAL_MEMO.get_or_build(spark, sf_dir, build)


def _matched_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mutual_best_df(spark, sf_dir).filter(F.col("iou") >= IOU_THRESHOLD)


def bbox_iou_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All overlapping same-class pred/GT pairs with IoU (accuracy.ipynb
    pair enumeration), keyed by image so the join never goes global."""
    return (
        _pairs_df(spark, sf_dir)
        .filter(F.col("iou") > 0)
        .select("pred_id", "gt_id", "image_id", "cls", F.round(F.col("iou") + 1e-9, 6).alias("iou"))
    )


BBOX_IOU_PAIRS_SQL = f"""
WITH {_GT_SQL},
{_PAIRS_SQL}
SELECT pred_id, gt_id, image_id, cls, round(iou + 1e-9, 6) AS iou
FROM pairs WHERE iou > 0
"""


def detection_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global precision/recall/F1 at IoU@0.5 (accuracy.ipynb
    aggregate metrics cell)."""
    matched = _matched_df(spark, sf_dir).agg(F.count(F.lit(1)).alias("tp"))
    n_pred = _pred_df(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_pred"))
    n_gt = _gt_df(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_gt"))
    # house rule: scalar aggregates ride as broadcast 1-row frames —
    # hinted explicitly so an AQE-off run can't regress into a 1-row
    # shuffle join (asserted in tests/test_plans.py)
    joined = matched.crossJoin(F.broadcast(n_pred)).crossJoin(F.broadcast(n_gt))
    return joined.select(*_counts_prf(F.col("tp")))


DETECTION_EVAL_SQL = f"""
WITH {_GT_SQL},
{_PAIRS_SQL},
{_MATCHED_SQL},
counts AS (
  SELECT (SELECT count(*) FROM matched) AS tp,
         (SELECT count(*) FROM pred)    AS n_pred,
         (SELECT count(*) FROM gt)      AS n_gt
)
SELECT
  tp,
  n_pred - tp AS fp,
  n_gt - tp   AS fn,
  {_PRF_SQL}
FROM counts
"""


def _per_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    matched = _matched_df(spark, sf_dir).groupBy("cls").agg(F.count(F.lit(1)).alias("tp"))
    n_pred = _pred_df(spark, sf_dir).groupBy("cls").agg(F.count(F.lit(1)).alias("n_pred"))
    n_gt = _gt_df(spark, sf_dir).groupBy("cls").agg(F.count(F.lit(1)).alias("n_gt"))
    return (
        n_gt.join(n_pred, "cls", "full_outer")
        .join(matched, "cls", "full_outer")
        .select(
            "cls",
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
            (F.coalesce(F.col("n_pred"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0))).alias("fp"),
            (F.coalesce(F.col("n_gt"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0))).alias("fn"),
        )
    )


def _prf(tp, fp, fn):
    precision = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0))
    recall = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(0.0))
    f1 = F.when(precision + recall > 0, 2 * precision * recall / (precision + recall)).otherwise(F.lit(0.0))
    return precision, recall, f1


def _rounded_prf(tp, fp, fn) -> list:
    """`_prf`'s precision / recall / f1, 6-dp rounded and named."""
    return [
        F.round(c + 1e-9, 6).alias(name)
        for c, name in zip(_prf(tp, fp, fn), ("precision", "recall", "f1"))
    ]


def _counts_prf(tp) -> list:
    """tp / fp / fn + rounded P/R/F1 from a matched count and the
    broadcast ``n_pred`` / ``n_gt`` totals; an empty prediction or
    GT set scores 0.0 instead of dividing by zero."""
    fp, fn = F.col("n_pred") - tp, F.col("n_gt") - tp
    return [tp.alias("tp"), fp.alias("fp"), fn.alias("fn"), *_rounded_prf(tp, fp, fn)]


def detection_eval_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class TP/FP/FN + P/R/F1 (accuracy.ipynb per_class_stats
    printout, zero-denominator guards included)."""
    counts = _per_class_counts(spark, sf_dir)
    return counts.select(
        "cls", "tp", "fp", "fn", *_rounded_prf(F.col("tp"), F.col("fp"), F.col("fn"))
    )


def detection_eval_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro-averaged per-class metrics — the notebook's "simplified
    mAP@0.5": the unweighted mean of per-class precision (and the
    macro recall/F1 alongside)."""
    counts = _per_class_counts(spark, sf_dir)
    precision, recall, f1 = _prf(F.col("tp"), F.col("fp"), F.col("fn"))
    per_class = counts.select(
        precision.alias("p"), recall.alias("r"), f1.alias("f")
    )
    return per_class.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.round(F.avg("p") + 1e-9, 6).alias("map50_simplified"),
        F.round(F.avg("r") + 1e-9, 6).alias("macro_recall"),
        F.round(F.avg("f") + 1e-9, 6).alias("macro_f1"),
    )


_PER_CLASS_COUNTS_SQL = """
m AS (SELECT cls, count(*) AS tp FROM matched GROUP BY cls),
p AS (SELECT cls, count(*) AS n_pred FROM pred GROUP BY cls),
g AS (SELECT cls, count(*) AS n_gt FROM gt GROUP BY cls),
counts AS (
  SELECT
    COALESCE(g.cls, p.cls, m.cls) AS cls,
    COALESCE(m.tp, 0) AS tp,
    COALESCE(p.n_pred, 0) - COALESCE(m.tp, 0) AS fp,
    COALESCE(g.n_gt, 0) - COALESCE(m.tp, 0) AS fn
  FROM g
  FULL OUTER JOIN p ON g.cls = p.cls
  FULL OUTER JOIN m ON COALESCE(g.cls, p.cls) = m.cls
),
prf AS (
  SELECT *,
    CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END AS p_,
    CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END AS r_
  FROM counts
),
prf2 AS (
  SELECT *,
    CASE WHEN p_ + r_ > 0 THEN 2 * p_ * r_ / (p_ + r_) ELSE 0.0 END AS f_
  FROM prf
)
"""

DETECTION_EVAL_PER_CLASS_SQL = f"""
WITH {_GT_SQL},
{_PAIRS_SQL},
{_MATCHED_SQL},
{_PER_CLASS_COUNTS_SQL}
SELECT cls, tp, fp, fn,
       round(p_ + 1e-9, 6) AS precision,
       round(r_ + 1e-9, 6) AS recall,
       round(f_ + 1e-9, 6) AS f1
FROM prf2
"""

DETECTION_EVAL_MACRO_SQL = f"""
WITH {_GT_SQL},
{_PAIRS_SQL},
{_MATCHED_SQL},
{_PER_CLASS_COUNTS_SQL}
SELECT count(*) AS n_classes,
       round(avg(p_) + 1e-9, 6) AS map50_simplified,
       round(avg(r_) + 1e-9, 6) AS macro_recall,
       round(avg(f_) + 1e-9, 6) AS macro_f1
FROM prf2
"""


# ---------------------------------------------------------------------------
# detection_eval_greedy — exact greedy-loop parity with the notebook
# ---------------------------------------------------------------------------

_GREEDY_MATCH_SCHEMA = "image_id long, pred_id long, gt_id long, cls int, iou double"


N_GREEDY_BUCKETS = 256

# The order predictions claim GTs in: the notebook's loop walks them
# by pred_id; VOC/COCO AP evaluation walks them by confidence
# (descending, pred_id tiebreak). Within a prediction, candidates go
# by IoU desc, then the lowest gt_id (the GT enumeration order).
_PRED_ID_ORDER = (["image_id", "pred_id", "iou", "gt_id"], [True, True, False, True])
_CONF_ORDER = (
    ["image_id", "conf", "pred_id", "iou", "gt_id"],
    [True, False, True, False, True],
)


def _per_image_buckets(df: DataFrame, kernel, schema: str) -> DataFrame:
    """Run a per-image sequential kernel as a grouped map keyed by a
    hash BUCKET of image_id, not image_id itself: one Arrow transfer
    + pandas call handles a few hundred images instead of paying
    per-group overhead on thousands of tiny groups. The kernel must
    isolate each image itself."""
    bucket = F.pmod(F.hash("image_id"), F.lit(N_GREEDY_BUCKETS))
    return df.withColumn("_bucket", bucket).groupBy("_bucket").applyInPandas(kernel, schema)


def _make_greedy_kernel(by: list[str], ascending: list[bool]):
    # Factory so cloudpickle serializes the kernel BY VALUE into the
    # applyInPandas closure — cluster Python workers never import
    # this package.
    def greedy_match(pdf):
        """The notebook's `match_detections` loop verbatim
        (Test/accuracy.ipynb, matching cell), applied independently
        per image: predictions in the sort order ``by``/``ascending``
        each claim the unmatched same-class GT with the highest IoU
        (strict `>` ⇒ ties go to the lowest gt_id)."""
        pdf = pdf.sort_values(by, ascending=ascending, kind="mergesort")
        keep = []
        cur_img = None
        taken: set = set()
        cur_pred = None
        cur_matched = False
        for row in pdf.itertuples():
            if row.image_id != cur_img:
                cur_img = row.image_id
                taken = set()
                cur_pred = None
            if row.pred_id != cur_pred:
                cur_pred = row.pred_id
                cur_matched = False
            if cur_matched or row.gt_id in taken:
                continue
            taken.add(row.gt_id)
            cur_matched = True
            keep.append(row.Index)
        return pdf.loc[keep, ["image_id", "pred_id", "gt_id", "cls", "iou"]]

    return greedy_match


def _greedy_sql(order_by: str, seq_cols: str, seed: str, step: str) -> str:
    """DuckDB twin of ``_make_greedy_kernel`` over ``pairs``: per image,
    predictions in ``order_by`` order each claim their best unmatched
    candidate GT. ``seed`` / ``step`` set the ``greedy`` CTE's last column."""
    return f"""cand AS (SELECT * FROM pairs WHERE iou >= {IOU_THRESHOLD}),
preds_seq AS (
  SELECT image_id, pred_id,
         row_number() OVER (PARTITION BY image_id ORDER BY {order_by}) AS rn
  FROM (SELECT DISTINCT {seq_cols} FROM cand)
),
maxrn AS (SELECT image_id, max(rn) AS n FROM preds_seq GROUP BY 1),
greedy AS (
  SELECT image_id, 0 AS rn, CAST([] AS BIGINT[]) AS mg, {seed}
  UNION ALL
  SELECT g.image_id, g.rn + 1,
         CASE WHEN b.gt_id IS NULL THEN g.mg ELSE list_append(g.mg, b.gt_id) END,
         {step}
  FROM greedy g
  JOIN preds_seq s ON s.image_id = g.image_id AND s.rn = g.rn + 1
  LEFT JOIN LATERAL (
    SELECT c.gt_id FROM cand c
    WHERE c.image_id = g.image_id AND c.pred_id = s.pred_id
      AND NOT list_contains(g.mg, c.gt_id)
    ORDER BY c.iou DESC, c.gt_id
    LIMIT 1
  ) b ON TRUE
)"""


def detection_eval_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global P/R/F1 with the notebook's EXACT greedy matching
    (accuracy.ipynb `match_detections`): sequential over predictions,
    each claiming the best unmatched GT. The loop is inherently
    order-dependent per image, so it runs as a grouped-map
    `applyInPandas` keyed by image_id — each executor matches its own
    images (dozens of boxes each), which distributes perfectly at
    100 TB while preserving the single-image loop semantics
    `detection_eval`'s mutual-best formulation only approximates."""
    cand = _pairs_df(spark, sf_dir).filter(F.col("iou") >= IOU_THRESHOLD)
    matched = _per_image_buckets(
        cand, _make_greedy_kernel(*_PRED_ID_ORDER), _GREEDY_MATCH_SCHEMA
    )
    tp_df = matched.agg(F.count(F.lit(1)).alias("tp"))
    n_pred = _pred_df(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_pred"))
    n_gt = _gt_df(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_gt"))
    # scalar aggregates ride as broadcast 1-row frames (house rule)
    joined = tp_df.crossJoin(F.broadcast(n_pred)).crossJoin(F.broadcast(n_gt))
    return joined.select(*_counts_prf(F.col("tp")))


# The oracle replays the sequential loop as a recursive CTE: one
# recursion step per prediction (per image, all images advancing in
# parallel), carrying the matched-GT list; the LATERAL picks the
# best unmatched GT exactly like the kernel's sorted walk.
DETECTION_EVAL_GREEDY_SQL = f"""
WITH RECURSIVE {_GT_SQL},
{_PAIRS_SQL},
{_greedy_sql(
    "pred_id", "image_id, pred_id", "0 AS tp FROM maxrn",
    "g.tp + CASE WHEN b.gt_id IS NULL THEN 0 ELSE 1 END",
)},
counts AS (
  SELECT (SELECT COALESCE(sum(g.tp), 0) FROM greedy g
          JOIN maxrn m ON g.image_id = m.image_id AND g.rn = m.n) AS tp,
         (SELECT count(*) FROM pred) AS n_pred,
         (SELECT count(*) FROM gt)   AS n_gt
)
SELECT
  CAST(tp AS BIGINT) AS tp,
  CAST(n_pred - tp AS BIGINT) AS fp,
  CAST(n_gt - tp AS BIGINT)   AS fn,
  {_PRF_SQL}
FROM counts
"""


SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def detection_eval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 swept over IoU thresholds — the PR-curve
    extension of the notebook's single IoU@0.5 cell. Because
    matched@t ≡ global mutual-best ∩ (iou ≥ t) (see
    _mutual_best_df), the sweep is the SAME two windows every other
    eval query already shares, plus a 5-row broadcast cross join
    over the tiny mutual-best frame — no per-threshold pair
    fan-out, no per-threshold windows."""
    thr = spark.sql(
        "SELECT CAST(thr AS DOUBLE) AS thr FROM (VALUES "
        + ", ".join(f"({t})" for t in SWEEP_THRESHOLDS)
        + ") AS t(thr)"
    )
    mb = _mutual_best_df(spark, sf_dir)
    tp_per_thr = (
        mb.crossJoin(F.broadcast(thr))
        .filter(F.col("iou") >= F.col("thr"))
        .groupBy("thr")
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    n_pred = _pred_df(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_pred"))
    n_gt = _gt_df(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_gt"))
    # scalar aggregates ride as broadcast 1-row frames (house rule)
    joined = (
        thr.join(tp_per_thr, "thr", "left")
        .crossJoin(F.broadcast(n_pred))
        .crossJoin(F.broadcast(n_gt))
    )
    return joined.select(
        F.col("thr").alias("iou_threshold"), *_counts_prf(F.coalesce(F.col("tp"), F.lit(0)))
    )


DETECTION_EVAL_SWEEP_SQL = f"""
WITH {_GT_SQL},
{_PAIRS_SQL},
thresholds AS (SELECT CAST(thr AS DOUBLE) AS thr
               FROM (VALUES {", ".join(f"({t})" for t in SWEEP_THRESHOLDS)}) AS t(thr)),
ranked AS (
  SELECT pairs.*, thr,
    row_number() OVER (PARTITION BY thr, pred_id ORDER BY iou DESC, gt_id)  AS rn_p,
    row_number() OVER (PARTITION BY thr, gt_id  ORDER BY iou DESC, pred_id) AS rn_g
  FROM pairs CROSS JOIN thresholds WHERE iou >= thr
),
tp_per AS (
  SELECT thr, count(*) AS tp FROM ranked WHERE rn_p = 1 AND rn_g = 1 GROUP BY thr
),
counts AS (
  SELECT t.thr, COALESCE(tp_per.tp, 0) AS tp,
         (SELECT count(*) FROM pred) AS n_pred,
         (SELECT count(*) FROM gt)   AS n_gt
  FROM thresholds t LEFT JOIN tp_per ON t.thr = tp_per.thr
)
SELECT thr AS iou_threshold, tp,
       n_pred - tp AS fp,
       n_gt - tp   AS fn,
  {indent(_PRF_SQL, "     ")}
FROM counts
"""


# ---------------------------------------------------------------------------
# detection_eval_ap — confidence-ranked PR-curve AP (true VOC/COCO AP@0.5)
# ---------------------------------------------------------------------------

# 9-dp integer quantization of each precision-envelope term before
# the per-class sum: summing int64 is associative, so the AP value
# cannot drift with Spark's partition-dependent double-sum order
# (the same determinism recipe as kmeans'/pagerank's per-iteration
# quantization).
_AP_QUANT = 1_000_000_000


def _ap_ranked_env_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence-ranked detections with cumulative TP and the
    precision envelope — the shared core of the AP family (all-points
    AP, mAP, and the 101-point COCO resampling). One row per
    detection: (cls, conf, pred_id, is_tp, rnk, cum_tp, p_env)."""
    cand = _pairs_df(spark, sf_dir).filter(F.col("iou") >= IOU_THRESHOLD)
    matched = _per_image_buckets(
        cand, _make_greedy_kernel(*_CONF_ORDER), _GREEDY_MATCH_SCHEMA
    ).select("pred_id", F.lit(1).alias("is_tp"))
    # matched grows with the corpus → shuffle join on pred_id,
    # never broadcast.
    det = (
        _pred_df(spark, sf_dir)
        .select("pred_id", "cls", "conf")
        .join(matched, "pred_id", "left")
        .select("pred_id", "cls", "conf", F.coalesce(F.col("is_tp"), F.lit(0)).alias("is_tp"))
    )
    order = Window.partitionBy("cls").orderBy(F.col("conf").desc(), F.col("pred_id"))
    rnk = F.row_number().over(order)
    cum_tp = F.sum("is_tp").over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = det.select("cls", "conf", "pred_id", "is_tp", rnk.alias("rnk"), cum_tp.alias("cum_tp"))
    # suffix max (precision envelope) as a RUNNING max over the
    # REVERSED ordering: a CURRENT→UNBOUNDED FOLLOWING frame is a
    # shrinking frame, which WindowExec recomputes from scratch per
    # row — O(n²) per class partition (measured 15 s on 76 k rows at
    # sf0.1). The reversed growing frame takes the O(n) running-
    # aggregate path; values are identical.
    rev_order = Window.partitionBy("cls").orderBy(F.col("conf").asc(), F.col("pred_id").desc())
    p_env = F.max(F.col("cum_tp").cast("double") / F.col("rnk")).over(
        rev_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ranked.select("cls", "conf", "pred_id", "is_tp", "rnk", "cum_tp", p_env.alias("p_env"))


def _ap_per_class_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class all-points AP@0.5 (shared by detection_eval_ap and
    detection_eval_map).

    Pipeline: (1) greedy-match candidates per image in confidence
    order (grouped-map Arrow kernel — embarrassingly parallel across
    image buckets); (2) rank ALL detections per class by
    (conf desc, pred_id) and accumulate TP with one window pass;
    (3) precision envelope p_env(i) = max precision at rank ≥ i (a
    second window pass — running max over the REVERSED ordering,
    because Spark recomputes shrinking CURRENT→UNBOUNDED FOLLOWING
    frames per row, O(n²); DuckDB's oracle keeps the forward
    shrinking frame, which it evaluates with a segment tree); (4) AP =
    Σ_TP p_env / n_gt — the all-points PR-curve integral (VOC 2010+ /
    COCO definition, minus COCO's 101-point resampling).

    Scale note: step 2's window partitions by class (6 values), so
    the ranking sort concentrates on |classes| reducers. That is
    inherent to exact AP — it totally orders every detection per
    class by score (pycocotools does the same sort single-node). The
    100 TB fallback is binning scores into fixed-width buckets and
    ranking the |buckets|-row histogram instead (error ≤ bucket
    width); detections above threshold are also typically orders of
    magnitude fewer than raw corpus rows."""
    env = _ap_ranked_env_df(spark, sf_dir).select("cls", "is_tp", "p_env")
    term = F.when(F.col("is_tp") == 1, F.round(F.col("p_env") * _AP_QUANT).cast("long")).otherwise(
        F.lit(0)
    )
    sums = env.groupBy("cls").agg(
        F.sum(term).alias("sum_env"),
        F.sum("is_tp").alias("tp"),
        F.count(F.lit(1)).alias("n_pred"),
    )
    # per-class GT counts: bounded by |classes| = 6 (a literal
    # constant of the class map) → broadcast-eligible per the house
    # rule on constants-bounded frames. The hint must sit on the
    # RIGHT (probe-buildable) side: Spark cannot build-left a left
    # outer join, so `F.broadcast(n_gt).join(sums, ..., "left")`
    # would be silently dropped (HintErrorLogger) and fall back to a
    # shuffle. `sums` is equally |classes|-bounded, so hinting it
    # realizes the broadcast.
    n_gt = _gt_df(spark, sf_dir).groupBy("cls").agg(F.count(F.lit(1)).alias("n_gt"))
    ap = F.round(F.col("sum_env") / F.lit(float(_AP_QUANT)) / F.col("n_gt") + 1e-9, 6)
    return n_gt.join(F.broadcast(sums), "cls", "left").select(
        "cls",
        "n_gt",
        F.coalesce(F.col("n_pred"), F.lit(0)).alias("n_pred"),
        F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
        F.coalesce(ap, F.lit(0.0)).alias("ap50"),
    )


def detection_eval_ap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class confidence-ranked average precision at IoU 0.5 —
    the true PR-curve AP the reference notebook's "simplified mAP"
    (mean per-class precision, Test/accuracy.ipynb) approximates.
    Detections are ranked by score, greedy-matched in score order,
    and the all-points precision envelope is integrated per class."""
    return _ap_per_class_df(spark, sf_dir)


def detection_eval_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mAP@0.5: unweighted mean of per-class AP over the classes
    with ground truth — the headline detection metric. The mean sums
    6-dp-quantized per-class APs as exact int64 so the result is
    bit-stable cross-engine."""
    ap = _ap_per_class_df(spark, sf_dir)
    q = F.round(F.col("ap50") * 1_000_000).cast("long")
    return ap.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.round(F.sum(q) / (F.count(F.lit(1)) * F.lit(1_000_000.0)) + 1e-9, 6).alias("map50"),
    )


N_COCO_RECALL_POINTS = 101  # recall grid 0.00, 0.01, ..., 1.00


def detection_eval_ap_coco(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class 101-point COCO AP@0.5 — the pycocotools definition
    (minus per-area/maxDet stratification): the precision envelope is
    resampled at recall ∈ {0, 0.01, ..., 1.00} and AP is the mean of
    the 101 sampled precisions, p(r) = max precision over detections
    with recall ≥ r (0 where no detection reaches r). This is the
    variant a user migrating from pycocotools' COCOeval expects;
    `detection_eval_ap` keeps the all-points VOC-2010 integral.

    The recall comparison is done in INTEGERS (100·cum_tp ≥
    thr_idx·n_gt ⟺ recall ≥ thr_idx/100) so the grid membership can
    never disagree between engines on a float boundary; each sampled
    max is 9-dp-quantized to int64 before the per-class sum (the AP
    family's associativity recipe).

    Scale design: the envelope rows fan out ×101 against a literal
    grid frame (broadcast — fixed 101 rows) and collapse through
    map-side partial aggregation into |classes|·101 groups; the
    |classes|-row GT-count frame broadcasts. Same |classes|-reducer
    ranking caveat as `detection_eval_ap` (inherent to exact AP)."""
    env = _ap_ranked_env_df(spark, sf_dir)
    n_gt = _gt_df(spark, sf_dir).groupBy("cls").agg(F.count(F.lit(1)).alias("n_gt"))
    thr = spark.range(N_COCO_RECALL_POINTS).select(F.col("id").cast("int").alias("thr_idx"))
    # the envelope is read once, so the greedy kernel runs once:
    # threshold 0 admits every detection (100·cum_tp ≥ 0), so its
    # group also counts the class's TPs and predictions
    pr = (
        env.join(F.broadcast(n_gt), "cls")
        .join(
            F.broadcast(thr),
            F.lit(100) * F.col("cum_tp") >= F.col("thr_idx") * F.col("n_gt"),
        )
        .groupBy("cls", "thr_idx")
        .agg(
            F.round(F.max("p_env") * _AP_QUANT).cast("long").alias("q"),
            F.sum("is_tp").alias("tp"),
            F.count(F.lit(1)).alias("n_pred"),
        )
    )
    at_0 = F.col("thr_idx") == 0
    coco = pr.groupBy("cls").agg(
        F.sum("q").alias("sum_q"),
        F.max(F.when(at_0, F.col("tp"))).alias("tp"),
        F.max(F.when(at_0, F.col("n_pred"))).alias("n_pred"),
    )
    ap = F.round(
        F.col("sum_q") / F.lit(float(_AP_QUANT)) / F.lit(float(N_COCO_RECALL_POINTS)) + 1e-9, 6
    )
    return (
        n_gt.join(coco, "cls", "left")
        .select(
            "cls",
            "n_gt",
            F.coalesce(F.col("n_pred"), F.lit(0)).alias("n_pred"),
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
            F.coalesce(ap, F.lit(0.0)).alias("ap50_coco"),
        )
    )


# The oracle replays the confidence-ordered greedy loop as a
# recursive CTE (one step per ranked prediction per image, matched
# GTs carried as a list), then integrates the same envelope with
# window functions over identical (conf DESC, pred_id) ordering.
_AP_GREEDY_SQL = _greedy_sql(
    "conf DESC, pred_id",
    "image_id, pred_id, conf",
    "CAST(NULL AS BIGINT) AS matched_pred\n  FROM maxrn",
    "CASE WHEN b.gt_id IS NULL THEN CAST(NULL AS BIGINT) ELSE s.pred_id END",
)

_AP_BASE_SQL = f"""
{_AP_GREEDY_SQL},
matched AS (SELECT matched_pred AS pred_id FROM greedy WHERE matched_pred IS NOT NULL),
det AS (
  SELECT p.cls, p.pred_id, p.conf,
         CASE WHEN m.pred_id IS NULL THEN 0 ELSE 1 END AS is_tp
  FROM pred p LEFT JOIN matched m USING (pred_id)
),
ranked AS (
  SELECT cls, pred_id, conf, is_tp,
         row_number() OVER (PARTITION BY cls ORDER BY conf DESC, pred_id) AS rnk,
         sum(is_tp) OVER (PARTITION BY cls ORDER BY conf DESC, pred_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tp
  FROM det
),
env AS (
  SELECT cls, is_tp, cum_tp,
         max(CAST(cum_tp AS DOUBLE) / rnk) OVER (
           PARTITION BY cls ORDER BY conf DESC, pred_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS p_env
  FROM ranked
),
gt_counts AS (SELECT cls, CAST(count(*) AS BIGINT) AS n_gt FROM gt GROUP BY cls),
sums AS (
  SELECT cls,
         CAST(sum(CASE WHEN is_tp = 1 THEN CAST(round(p_env * {_AP_QUANT}) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS sum_env,
         CAST(sum(is_tp) AS BIGINT) AS tp,
         CAST(count(*) AS BIGINT) AS n_pred
  FROM env GROUP BY cls
),
ap AS (
  SELECT g.cls, g.n_gt,
         COALESCE(s.n_pred, 0) AS n_pred,
         COALESCE(s.tp, 0) AS tp,
         COALESCE(round(s.sum_env / {float(_AP_QUANT)} / g.n_gt + 1e-9, 6), 0.0) AS ap50
  FROM gt_counts g LEFT JOIN sums s USING (cls)
)
"""

DETECTION_EVAL_AP_SQL = f"""
WITH RECURSIVE {_GT_SQL},
{_PAIRS_SQL},
{_AP_BASE_SQL}
SELECT cls, n_gt, n_pred, tp, ap50 FROM ap
"""

DETECTION_EVAL_MAP_SQL = f"""
WITH RECURSIVE {_GT_SQL},
{_PAIRS_SQL},
{_AP_BASE_SQL}
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       round(sum(CAST(round(ap50 * 1000000) AS BIGINT)) / (count(*) * 1000000.0) + 1e-9, 6)
         AS map50
FROM ap
"""

DETECTION_EVAL_AP_COCO_SQL = f"""
WITH RECURSIVE {_GT_SQL},
{_PAIRS_SQL},
{_AP_BASE_SQL},
env_r AS (
  SELECT e.cls, e.cum_tp, e.p_env, g.n_gt
  FROM env e JOIN gt_counts g USING (cls)
),
thr AS (SELECT CAST(k AS INT) AS thr_idx FROM range(0, {N_COCO_RECALL_POINTS}) t(k)),
pr AS (
  SELECT cls, thr_idx, CAST(round(max(p_env) * {_AP_QUANT}) AS BIGINT) AS q
  FROM env_r JOIN thr ON 100 * cum_tp >= thr_idx * n_gt
  GROUP BY 1, 2
),
coco AS (SELECT cls, CAST(sum(q) AS BIGINT) AS sum_q FROM pr GROUP BY 1)
SELECT g.cls, g.n_gt,
       COALESCE(s.n_pred, 0) AS n_pred,
       COALESCE(s.tp, 0) AS tp,
       COALESCE(round(c.sum_q / {float(_AP_QUANT)} / {float(N_COCO_RECALL_POINTS)} + 1e-9, 6), 0.0)
         AS ap50_coco
FROM gt_counts g
LEFT JOIN sums s USING (cls)
LEFT JOIN coco c USING (cls)
"""


# ---------------------------------------------------------------------------
# detection_confusion_matrix — class-agnostic matching → confusion counts
# ---------------------------------------------------------------------------

_CM_BACKGROUND = -1  # row/col id for "no match" (background)


def detection_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection confusion matrix: greedy-match predictions to
    ground truth in confidence order at IoU ≥ 0.5 **ignoring
    class** (localization match only), then count (gt_cls,
    pred_cls) pairs — the per-class eval can't show WHICH classes
    the model confuses; this is the artifact that does. Unmatched
    predictions count against background (gt_cls = −1, the FP
    column) and unmatched ground truths as misses (pred_cls = −1,
    the FN row). The class-jittered synthetic predictions (every
    13th flips class, `_pred_df`) guarantee real off-diagonal mass.

    Scale design: identical to the AP family — the class-agnostic
    pair fan-out is image-keyed, the sequential claim loop runs as
    the grouped-map Arrow kernel over hash-bucketed images
    (embarrassingly parallel), and the matrix collapses map-side to
    ≤(|classes|+1)² rows. Oracle: the same recursive-CTE greedy
    replay as AP, extended to carry the claimed gt_id."""
    p = fan_out(_pred_df(spark, sf_dir), "image_id")
    g = _gt_df(spark, sf_dir)
    pr = p.select(
        "pred_id", "image_id", "conf", F.col("cls").alias("pred_cls"),
        "px", "py", "pw", "ph",
    )
    gr = g.select(
        "gt_id", "image_id", F.col("cls").alias("gt_cls"), "gx", "gy", "gw", "gh"
    )
    iou = iou_xywh(
        F.col("px"), F.col("py"), F.col("pw"), F.col("ph"),
        F.col("gx"), F.col("gy"), F.col("gw"), F.col("gh"),
    )
    cand = (
        pr.join(gr, "image_id")
        .select("image_id", "pred_id", "conf", "gt_id", iou.alias("iou"), "pred_cls")
        .filter(F.col("iou") >= IOU_THRESHOLD)
    )
    # the greedy kernel expects a `cls` column and passes it through
    # untouched — ride pred_cls in it.
    matched = _per_image_buckets(
        cand.withColumnRenamed("pred_cls", "cls"),
        _make_greedy_kernel(*_CONF_ORDER),
        _GREEDY_MATCH_SCHEMA,
    ).select("pred_id", "gt_id")
    # the kernel runs once: preds ⟕ matched ⟗ GTs puts each matched pair,
    # unmatched prediction (no gt_cls → FP column) and unmatched GT (no
    # pred_cls → FN row) on one row. matched grows with the corpus →
    # shuffle joins, never broadcast.
    bg = F.lit(_CM_BACKGROUND).cast("int")
    return (
        pr.select("pred_id", "pred_cls")
        .join(matched, "pred_id", "left")
        .join(gr.select("gt_id", "gt_cls"), "gt_id", "full")
        .groupBy(
            F.coalesce(F.col("gt_cls"), bg).alias("gt_cls"),
            F.coalesce(F.col("pred_cls"), bg).alias("pred_cls"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


_CM_IOU_EXPR = f"\n{iou_xywh_sql(_PRED_BOX, _GT_BOX)}\n"

DETECTION_CONFUSION_MATRIX_SQL = f"""
WITH RECURSIVE {_GT_SQL},
cand AS (
  SELECT p.pred_id, g.gt_id, p.image_id, p.conf,
         {_CM_IOU_EXPR} AS iou
  FROM pred p JOIN gt g ON p.image_id = g.image_id
  WHERE {_CM_IOU_EXPR} >= {IOU_THRESHOLD}
),
preds_seq AS (
  SELECT image_id, pred_id,
         row_number() OVER (PARTITION BY image_id ORDER BY conf DESC, pred_id) AS rn
  FROM (SELECT DISTINCT image_id, pred_id, conf FROM cand)
),
maxrn AS (SELECT image_id, max(rn) AS n FROM preds_seq GROUP BY 1),
walk AS (
  SELECT image_id, 0 AS rn, CAST([] AS BIGINT[]) AS mg,
         CAST(NULL AS BIGINT) AS matched_pred, CAST(NULL AS BIGINT) AS matched_gt
  FROM maxrn
  UNION ALL
  SELECT w.image_id, w.rn + 1,
         CASE WHEN b.gt_id IS NULL THEN w.mg ELSE list_append(w.mg, b.gt_id) END,
         CASE WHEN b.gt_id IS NULL THEN CAST(NULL AS BIGINT) ELSE s.pred_id END,
         b.gt_id
  FROM walk w
  JOIN preds_seq s ON s.image_id = w.image_id AND s.rn = w.rn + 1
  LEFT JOIN LATERAL (
    SELECT c.gt_id FROM cand c
    WHERE c.image_id = w.image_id AND c.pred_id = s.pred_id
      AND NOT list_contains(w.mg, c.gt_id)
    ORDER BY c.iou DESC, c.gt_id
    LIMIT 1
  ) b ON TRUE
),
mpairs AS (
  SELECT matched_pred AS pred_id, matched_gt AS gt_id
  FROM walk WHERE matched_pred IS NOT NULL
),
mm AS (
  SELECT gx.cls AS gt_cls, px.cls AS pred_cls, CAST(count(*) AS BIGINT) AS n
  FROM mpairs m
  JOIN pred px ON px.pred_id = m.pred_id
  JOIN gt gx ON gx.gt_id = m.gt_id
  GROUP BY 1, 2
),
fp AS (
  SELECT CAST({_CM_BACKGROUND} AS INT) AS gt_cls, p.cls AS pred_cls,
         CAST(count(*) AS BIGINT) AS n
  FROM pred p
  WHERE p.pred_id NOT IN (SELECT pred_id FROM mpairs)
  GROUP BY 2
),
fn AS (
  SELECT g.cls AS gt_cls, CAST({_CM_BACKGROUND} AS INT) AS pred_cls,
         CAST(count(*) AS BIGINT) AS n
  FROM gt g
  WHERE g.gt_id NOT IN (SELECT gt_id FROM mpairs)
  GROUP BY 1
)
SELECT * FROM mm UNION ALL SELECT * FROM fp UNION ALL SELECT * FROM fn
"""


# ---------------------------------------------------------------------------
# detection_nms — greedy per-class non-maximum suppression
# ---------------------------------------------------------------------------

NMS_IOU = 0.5
_NMS_SCHEMA = "image_id long, cls int, pred_id long, conf double, keep_rank int"


def _make_nms_kernel():
    # Factory → cloudpickle ships the kernel by value (see greedy).
    def nms(pdf):
        """Greedy NMS per (image, class): walk detections in
        (conf desc, pred_id) order; a detection is kept iff its IoU
        with every ALREADY-KEPT same-class box is ≤ NMS_IOU — the
        exact sequential semantics of ultralytics' postprocessing
        the reference's predictions implicitly passed through. The
        IoU arithmetic mirrors iou_xywh op-for-op (IEEE add is
        commutative, so kernel and SQL produce identical doubles
        and the τ comparison can never disagree)."""
        import pandas as pd

        pdf = pdf.sort_values(
            ["image_id", "cls", "conf", "pred_id"],
            ascending=[True, True, False, True],
            kind="mergesort",
        )
        out = {"image_id": [], "cls": [], "pred_id": [], "conf": [], "keep_rank": []}
        cur = None
        kept: list = []
        for row in pdf.itertuples():
            key = (row.image_id, row.cls)
            if key != cur:
                cur = key
                kept = []
            suppressed = False
            for kx, ky, kw, kh in kept:
                ix1 = max(row.px, kx)
                iy1 = max(row.py, ky)
                ix2 = min(row.px + row.pw, kx + kw)
                iy2 = min(row.py + row.ph, ky + kh)
                inter = max(0.0, ix2 - ix1) * max(0.0, iy2 - iy1)
                union = row.pw * row.ph + kw * kh - inter
                iou = inter / union if union > 0 else 0.0
                if iou > NMS_IOU:
                    suppressed = True
                    break
            if not suppressed:
                kept.append((row.px, row.py, row.pw, row.ph))
                out["image_id"].append(int(row.image_id))
                out["cls"].append(int(row.cls))
                out["pred_id"].append(int(row.pred_id))
                out["conf"].append(float(row.conf))
                out["keep_rank"].append(len(kept))
        return pd.DataFrame(out)

    return nms


def detection_nms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-(image, class) non-maximum suppression over the
    prediction set — the YOLO postprocessing step between raw model
    output and every downstream consumer (predictions_to_json.py
    assumes its input already passed through it). Sequential per
    group by definition, so it runs as the per-key grouped-map
    kernel (hash-bucketed images, like detection_eval_greedy) —
    embarrassingly parallel across images at any scale; the oracle
    replays the walk as a recursive CTE carrying the kept-box list,
    with suppression decided from a pre-thresholded pred-pred IoU
    pair table."""
    return _per_image_buckets(_pred_df(spark, sf_dir), _make_nms_kernel(), _NMS_SCHEMA)


_NMS_IOU_EXPR = f"\n{iou_xywh_sql(_box('a'), _box('b'))}\n"

DETECTION_NMS_SQL = f"""
WITH RECURSIVE {_GT_SQL},
ppairs AS (
  SELECT a.image_id, a.cls, a.pred_id AS sup, b.pred_id AS sub
  FROM pred a JOIN pred b
    ON a.image_id = b.image_id AND a.cls = b.cls
   AND (a.conf > b.conf OR (a.conf = b.conf AND a.pred_id < b.pred_id))
  WHERE {_NMS_IOU_EXPR} > {NMS_IOU}
),
seq AS (
  SELECT image_id, cls, pred_id, conf,
         row_number() OVER (PARTITION BY image_id, cls
                            ORDER BY conf DESC, pred_id) AS rn
  FROM pred
),
maxrn AS (SELECT image_id, cls, max(rn) AS n FROM seq GROUP BY 1, 2),
walk AS (
  SELECT image_id, cls, 0 AS rn, CAST([] AS BIGINT[]) AS kept FROM maxrn
  UNION ALL
  SELECT w.image_id, w.cls, w.rn + 1,
         CASE WHEN sup.hit THEN w.kept ELSE list_append(w.kept, s.pred_id) END
  FROM walk w
  JOIN seq s ON s.image_id = w.image_id AND s.cls = w.cls AND s.rn = w.rn + 1
  LEFT JOIN LATERAL (
    SELECT TRUE AS hit FROM ppairs p
    WHERE p.image_id = w.image_id AND p.cls = w.cls
      AND p.sub = s.pred_id AND list_contains(w.kept, p.sup)
    LIMIT 1
  ) sup ON TRUE
),
final AS (
  SELECT w.image_id, w.cls, w.kept
  FROM walk w JOIN maxrn m
    ON w.image_id = m.image_id AND w.cls = m.cls AND w.rn = m.n
),
kept_rows AS (
  SELECT image_id, cls,
         unnest(kept) AS pred_id,
         CAST(unnest(range(1, len(kept) + 1)) AS INT) AS keep_rank
  FROM final
)
SELECT k.image_id, CAST(k.cls AS INT) AS cls, k.pred_id, p.conf, k.keep_rank
FROM kept_rows k JOIN pred p ON p.pred_id = k.pred_id AND p.image_id = k.image_id
"""


QUERIES = {
    "bbox_iou_pairs": (bbox_iou_pairs, BBOX_IOU_PAIRS_SQL),
    "detection_nms": (detection_nms, DETECTION_NMS_SQL),
    "detection_eval": (detection_eval, DETECTION_EVAL_SQL),
    "detection_eval_per_class": (detection_eval_per_class, DETECTION_EVAL_PER_CLASS_SQL),
    "detection_eval_macro": (detection_eval_macro, DETECTION_EVAL_MACRO_SQL),
    "detection_eval_sweep": (detection_eval_sweep, DETECTION_EVAL_SWEEP_SQL),
    "detection_eval_greedy": (detection_eval_greedy, DETECTION_EVAL_GREEDY_SQL),
    "detection_eval_ap": (detection_eval_ap, DETECTION_EVAL_AP_SQL),
    "detection_eval_map": (detection_eval_map, DETECTION_EVAL_MAP_SQL),
    "detection_eval_ap_coco": (detection_eval_ap_coco, DETECTION_EVAL_AP_COCO_SQL),
    "detection_confusion_matrix": (detection_confusion_matrix, DETECTION_CONFUSION_MATRIX_SQL),
}
