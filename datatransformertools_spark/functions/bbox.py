"""Column-level bounding-box math.

Re-expresses the reference's per-box Python arithmetic
(`converter_to_yolo_data.py:81-92` to_yolo_line,
`predictions_to_json.py:62-72` yolo_to_bbox_abs) as pure Spark
Column expressions so they run JVM-side inside whole-stage codegen
— no Python in the loop, which is what lets the same transform run
over 100 TB of annotation rows.

All boxes are absolute `[x_min, y_min, w, h]` unless noted; YOLO
format is normalized `[x_center, y_center, w, h]` in [0,1].
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clip_box(
    x: Column, y: Column, w: Column, h: Column, img_w: Column, img_h: Column
) -> tuple[Column, Column, Column, Column]:
    """Clip an absolute box to image bounds (reference
    converter_to_yolo_data.py:84-87)."""
    cx = F.greatest(F.lit(0.0), F.least(x, img_w))
    cy = F.greatest(F.lit(0.0), F.least(y, img_h))
    cw = F.greatest(F.lit(0.0), F.least(w, img_w - cx))
    ch = F.greatest(F.lit(0.0), F.least(h, img_h - cy))
    return cx, cy, cw, ch


def to_yolo(
    x: Column, y: Column, w: Column, h: Column, img_w: Column, img_h: Column
) -> tuple[Column, Column, Column, Column]:
    """Absolute (clipped) box → normalized YOLO center format
    (reference converter_to_yolo_data.py:88-92). Zero-size images
    yield 0.0 like the reference's guard."""
    cx, cy, cw, ch = clip_box(x, y, w, h, img_w, img_h)
    safe = img_w > 0
    safe_h = img_h > 0
    xc = F.when(safe, (cx + cw / 2.0) / img_w).otherwise(F.lit(0.0))
    yc = F.when(safe_h, (cy + ch / 2.0) / img_h).otherwise(F.lit(0.0))
    wn = F.when(safe, cw / img_w).otherwise(F.lit(0.0))
    hn = F.when(safe_h, ch / img_h).otherwise(F.lit(0.0))
    return xc, yc, wn, hn


def from_yolo(
    xc: Column, yc: Column, wn: Column, hn: Column, img_w: Column, img_h: Column
) -> tuple[Column, Column, Column, Column]:
    """Normalized YOLO center format → absolute clipped box
    (reference predictions_to_json.py:62-72)."""
    x = (xc - wn / 2.0) * img_w
    y = (yc - hn / 2.0) * img_h
    w = wn * img_w
    h = hn * img_h
    return clip_box(x, y, w, h, img_w, img_h)


def iou_xywh(
    ax: Column, ay: Column, aw: Column, ah: Column,
    bx: Column, by: Column, bw: Column, bh: Column,
) -> Column:
    """IoU of two absolute xywh boxes (reference accuracy.ipynb
    IoU@0.5 matching). Pure arithmetic — codegen-friendly."""
    ix1 = F.greatest(ax, bx)
    iy1 = F.greatest(ay, by)
    ix2 = F.least(ax + aw, bx + bw)
    iy2 = F.least(ay + ah, by + bh)
    iw = F.greatest(F.lit(0.0), ix2 - ix1)
    ih = F.greatest(F.lit(0.0), iy2 - iy1)
    inter = iw * ih
    union = aw * ah + bw * bh - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def iou_xywh_sql(a: tuple[str, str, str, str], b: tuple[str, str, str, str]) -> str:
    """DuckDB twin of ``iou_xywh`` over two ``(x, y, w, h)`` tuples of
    SQL expressions."""
    ax, ay, aw, ah = a
    bx, by, bw, bh = b
    iw = f"greatest(0.0, least({ax} + {aw}, {bx} + {bw}) - greatest({ax}, {bx}))"
    ih = f"greatest(0.0, least({ay} + {ah}, {by} + {bh}) - greatest({ay}, {by}))"
    return f"""CASE WHEN ({aw} * {ah} + {bw} * {bh}
           - {iw}
             * {ih}) > 0
     THEN ({iw}
           * {ih})
          / ({aw} * {ah} + {bw} * {bh}
             - {iw}
               * {ih})
     ELSE 0.0 END"""
