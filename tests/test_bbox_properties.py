"""Property-based tests for the bbox Column math.

Hypothesis drives batches of random boxes through ONE Spark job per
property (all examples collected into a single DataFrame — never a
job per example), checking the invariants the reference's converters
rely on: clipping is idempotent and in-bounds, YOLO round-trips
reproduce the clipped box, IoU is symmetric, bounded, and 1 on
identical boxes.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datatransformertools_spark.functions.bbox import clip_box, from_yolo, iou_xywh, to_yolo

coord = st.floats(min_value=-500.0, max_value=2000.0, allow_nan=False, width=32)
size = st.floats(min_value=0.0, max_value=1500.0, allow_nan=False, width=32)
img_dim = st.floats(min_value=1.0, max_value=4096.0, allow_nan=False, width=32)
box = st.tuples(coord, coord, size, size, img_dim, img_dim)


def _frame(spark, boxes):
    return spark.createDataFrame(
        [tuple(float(v) for v in b) for b in boxes],
        "x double, y double, w double, h double, img_w double, img_h double",
    )


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(box, min_size=30, max_size=30))
def test_clip_in_bounds_and_idempotent(spark, boxes):
    df = _frame(spark, boxes)
    cx, cy, cw, ch = clip_box(F.col("x"), F.col("y"), F.col("w"), F.col("h"), F.col("img_w"), F.col("img_h"))
    once = df.select("img_w", "img_h", cx.alias("x"), cy.alias("y"), cw.alias("w"), ch.alias("h"))
    for r in once.collect():
        assert 0.0 <= r.x <= r.img_w and 0.0 <= r.y <= r.img_h
        assert 0.0 <= r.w <= r.img_w - r.x + 1e-9 and 0.0 <= r.h <= r.img_h - r.y + 1e-9
    cx2, cy2, cw2, ch2 = clip_box(F.col("x"), F.col("y"), F.col("w"), F.col("h"), F.col("img_w"), F.col("img_h"))
    twice = once.select(cx2.alias("x2"), cy2.alias("y2"), cw2.alias("w2"), ch2.alias("h2"))
    a = [tuple(r) for r in once.select("x", "y", "w", "h").collect()]
    b = [tuple(r) for r in twice.collect()]
    assert a == pytest.approx(b)


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(box, min_size=30, max_size=30))
def test_yolo_roundtrip_reproduces_clipped_box(spark, boxes):
    df = _frame(spark, boxes)
    cx, cy, cw, ch = clip_box(F.col("x"), F.col("y"), F.col("w"), F.col("h"), F.col("img_w"), F.col("img_h"))
    clipped = df.select("img_w", "img_h", cx.alias("x"), cy.alias("y"), cw.alias("w"), ch.alias("h"))
    xc, yc, wn, hn = to_yolo(F.col("x"), F.col("y"), F.col("w"), F.col("h"), F.col("img_w"), F.col("img_h"))
    normed = clipped.select("img_w", "img_h", "x", "y", "w", "h",
                            xc.alias("xc"), yc.alias("yc"), wn.alias("wn"), hn.alias("hn"))
    bx, by, bw, bh = from_yolo(F.col("xc"), F.col("yc"), F.col("wn"), F.col("hn"), F.col("img_w"), F.col("img_h"))
    back = normed.select("x", "y", "w", "h", bx.alias("bx"), by.alias("by"), bw.alias("bw"), bh.alias("bh"))
    for r in back.collect():
        assert r.bx == pytest.approx(r.x, abs=1e-6)
        assert r.by == pytest.approx(r.y, abs=1e-6)
        assert r.bw == pytest.approx(r.w, abs=1e-6)
        assert r.bh == pytest.approx(r.h, abs=1e-6)


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.tuples(coord, coord, size, size, coord, coord, size, size), min_size=30, max_size=30))
def test_iou_symmetric_bounded_and_reflexive(spark, pairs):
    df = spark.createDataFrame(
        [tuple(float(v) for v in p) for p in pairs],
        "ax double, ay double, aw double, ah double, bx double, by double, bw double, bh double",
    )
    ab = iou_xywh(F.col("ax"), F.col("ay"), F.col("aw"), F.col("ah"),
                  F.col("bx"), F.col("by"), F.col("bw"), F.col("bh"))
    ba = iou_xywh(F.col("bx"), F.col("by"), F.col("bw"), F.col("bh"),
                  F.col("ax"), F.col("ay"), F.col("aw"), F.col("ah"))
    self_iou = iou_xywh(F.col("ax"), F.col("ay"), F.col("aw"), F.col("ah"),
                        F.col("ax"), F.col("ay"), F.col("aw"), F.col("ah"))
    out = df.select("ax", "ay", "aw", "ah", ab.alias("ab"), ba.alias("ba"), self_iou.alias("self"))
    for r in out.collect():
        assert 0.0 <= r.ab <= 1.0 + 1e-9
        assert r.ab == pytest.approx(r.ba, abs=1e-9)
        # reflexivity needs sides that survive float addition: the
        # intersection width is (x + w) - x, and a width below about
        # |x|·1e-9 is rounded away against x (2000.0 + 1e-13 ==
        # 2000.0) — float arithmetic, not an operator property. The
        # guard is relative because absorption is: an area guard
        # admits a 1e-9-wide, 1500-high box at x = 2000.
        if r.aw > abs(r.ax) * 1e-9 and r.ah > abs(r.ay) * 1e-9:
            assert r.self == pytest.approx(1.0, abs=1e-9)
        elif r.aw * r.ah == 0.0:
            assert r.self == 0.0
