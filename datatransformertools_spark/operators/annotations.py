"""Annotation / YOLO-format operators — reference parity core.

Re-expresses `converter_to_yolo_data.py` and
`predictions_to_json.py` as distributed DataFrame plans:

- the reference walks image files one at a time in Python; here the
  same bbox math is a Column expression over an annotations
  DataFrame, so a 100 TB annotation set is one scan + zero shuffles
  (normalize/denormalize are narrow transforms);
- the reference's train/val split materializes the full file list
  on one machine and calls sklearn; here the split is a stable
  md5-based assignment per image — reproducible, shuffle-free, and
  the 80/20 ratio holds in expectation at any scale.

No bbox tables ship in the testdata, so these queries derive a
deterministic annotation set from `events` (identical arithmetic in
the DuckDB oracle), which keeps every operator value-checked end to
end: image_id=user_id, box geometry from event_id/value arithmetic
(large boxes intentionally overflow image bounds to exercise the
reference's clipping path, converter_to_yolo_data.py:84-87).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datatransformertools_spark.functions.bbox import from_yolo, to_yolo
from datatransformertools_spark.functions.hashing import md5_long, md5_long_sql, md5_u32, md5_u32_sql
from datatransformertools_spark.sources.annotations import (
    read_competition_json,
    read_yolo_predictions,
    write_competition_json,
    write_yolo_labels,
    yolo_line,
)
from datatransformertools_spark.sources.sinks import roundtrip_path
from datatransformertools_spark.sources.tables import load_table

# Class id → name (reference predictions_to_json.py:37-44).
CLASS_MAP = {
    0: "Background",
    1: "Text",
    2: "Title",
    3: "List",
    4: "Table",
    5: "Figure",
}
N_CLASSES = len(CLASS_MAP)
# predictions below this confidence are dropped (predictions_to_json.py)
CONF_THRESHOLD = 0.25


def class_name(cls: Column) -> Column:
    """The class name of id ``cls`` (NULL off the map)."""
    return F.create_map(*[F.lit(v) for kv in CLASS_MAP.items() for v in kv])[cls]


def class_name_sql(cls: str) -> str:
    """DuckDB twin of ``class_name``."""
    whens = " ".join(f"WHEN {k} THEN '{v}'" for k, v in CLASS_MAP.items())
    return f"CASE {cls} {whens} END"


def _doc_png(uid: Column) -> Column:
    """The synthetic image file name of ``uid``: ``doc_00042.png``."""
    return F.concat(F.lit("doc_"), F.lpad(uid.cast("string"), 5, "0"), F.lit(".png"))


def _doc_png_sql(uid: str) -> str:
    """DuckDB twin of ``_doc_png``."""
    return f"'doc_' || lpad(CAST({uid} AS VARCHAR), 5, '0') || '.png'"


# ---------------------------------------------------------------------------
# Synthetic deterministic annotation set (shared Spark builder + SQL CTE)
# ---------------------------------------------------------------------------


def annotations_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic annotation rows derived from events.

    Columns: ann_id, image_id, file_name, img_w, img_h, x, y, w, h,
    cls, conf. Mirrors ANN_BASE_SQL exactly.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    uid, eid, val = F.col("user_id"), F.col("event_id"), F.col("value")
    return ev.select(
        eid.alias("ann_id"),
        uid.alias("image_id"),
        _doc_png(uid).alias("file_name"),
        (F.lit(640) + (uid % 7) * 160).cast("double").alias("img_w"),
        (F.lit(480) + (uid % 5) * 120).cast("double").alias("img_h"),
        ((eid % 97) * F.lit(12.0)).alias("x"),
        ((eid % 89) * F.lit(9.0)).alias("y"),
        (val * 2.0 + 20.0).alias("w"),
        (val * 1.5 + 15.0).alias("h"),
        (eid % N_CLASSES).cast("int").alias("cls"),
        ((eid % 100) / F.lit(100.0)).alias("conf"),
    )


ANN_BASE_SQL = f"""
ann_base AS (
  SELECT
    event_id                                                        AS ann_id,
    user_id                                                         AS image_id,
    {_doc_png_sql('user_id')}      AS file_name,
    CAST(640 + (user_id % 7) * 160 AS DOUBLE)                       AS img_w,
    CAST(480 + (user_id % 5) * 120 AS DOUBLE)                       AS img_h,
    (event_id % 97) * 12.0                                          AS x,
    (event_id % 89) * 9.0                                           AS y,
    value * 2.0 + 20.0                                              AS w,
    value * 1.5 + 15.0                                              AS h,
    CAST(event_id % {N_CLASSES} AS INTEGER)                                   AS cls,
    (event_id % 100) / 100.0                                        AS conf
  FROM events
)
"""

# DuckDB twin of ``clip_box`` over ``ann_base``: the clipped box
# ``cx, cy, cw, ch`` (converter_to_yolo_data.py:84-87)
_CLIPPED_SQL = """clipped AS (
  SELECT *,
    greatest(0.0, least(x, img_w)) AS cx,
    greatest(0.0, least(y, img_h)) AS cy
  FROM ann_base
),
clipped2 AS (
  SELECT *,
    greatest(0.0, least(w, img_w - cx)) AS cw,
    greatest(0.0, least(h, img_h - cy)) AS ch
  FROM clipped
)"""

# ---------------------------------------------------------------------------
# yolo_normalize — converter_to_yolo_data.py:81-92 (to_yolo_line)
# ---------------------------------------------------------------------------


def _yolo_labels(spark: SparkSession, sf_dir: str, *keys: str | Column) -> DataFrame:
    """``keys`` plus the 6-dp YOLO label columns ``x_center, y_center,
    w_norm, h_norm`` of every annotation (clipped, then normalized)."""
    ann = annotations_df(spark, sf_dir)
    xc, yc, wn, hn = to_yolo(
        F.col("x"), F.col("y"), F.col("w"), F.col("h"), F.col("img_w"), F.col("img_h")
    )
    return ann.select(
        *keys,
        F.round(xc + 1e-9, 6).alias("x_center"),
        F.round(yc + 1e-9, 6).alias("y_center"),
        F.round(wn + 1e-9, 6).alias("w_norm"),
        F.round(hn + 1e-9, 6).alias("h_norm"),
    )


def yolo_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _yolo_labels(spark, sf_dir, "ann_id", "image_id", "cls")


YOLO_NORMALIZE_SQL = f"""
WITH {ANN_BASE_SQL},
{_CLIPPED_SQL}
SELECT
  ann_id, image_id, cls,
  round((cx + cw / 2.0) / img_w + 1e-9, 6) AS x_center,
  round((cy + ch / 2.0) / img_h + 1e-9, 6) AS y_center,
  round(cw / img_w + 1e-9, 6)              AS w_norm,
  round(ch / img_h + 1e-9, 6)              AS h_norm
FROM clipped2
"""

# ---------------------------------------------------------------------------
# yolo_denormalize — predictions_to_json.py:62-117 (yolo→abs + conf filter
# + class-name mapping, 2-dp rounding per the reference default)
# ---------------------------------------------------------------------------


def yolo_denormalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ann = annotations_df(spark, sf_dir)
    xc, yc, wn, hn = to_yolo(
        F.col("x"), F.col("y"), F.col("w"), F.col("h"), F.col("img_w"), F.col("img_h")
    )
    norm = ann.select("ann_id", "image_id", "file_name", "img_w", "img_h", "cls", "conf",
                      xc.alias("xc"), yc.alias("yc"), wn.alias("wn"), hn.alias("hn"))
    ax, ay, aw, ah = from_yolo(
        F.col("xc"), F.col("yc"), F.col("wn"), F.col("hn"), F.col("img_w"), F.col("img_h")
    )
    return (
        norm.filter(F.col("conf") >= CONF_THRESHOLD)
        .select(
            "ann_id",
            "file_name",
            F.col("cls").alias("category_id"),
            class_name(F.col("cls")).alias("category_name"),
            F.round(ax + 1e-9, 2).alias("x_min"),
            F.round(ay + 1e-9, 2).alias("y_min"),
            F.round(aw + 1e-9, 2).alias("bbox_w"),
            F.round(ah + 1e-9, 2).alias("bbox_h"),
            F.round(F.col("conf") + 1e-9, 2).alias("confidence"),
        )
    )


YOLO_DENORMALIZE_SQL = f"""
WITH {ANN_BASE_SQL},
{_CLIPPED_SQL},
norm AS (
  SELECT ann_id, image_id, file_name, img_w, img_h, cls, conf,
    (cx + cw / 2.0) / img_w AS xc,
    (cy + ch / 2.0) / img_h AS yc,
    cw / img_w AS wn,
    ch / img_h AS hn
  FROM clipped2
),
denorm AS (
  SELECT *,
    greatest(0.0, least((xc - wn / 2.0) * img_w, img_w)) AS dx,
    greatest(0.0, least((yc - hn / 2.0) * img_h, img_h)) AS dy
  FROM norm
),
denorm2 AS (
  SELECT *,
    greatest(0.0, least(wn * img_w, img_w - dx)) AS dw,
    greatest(0.0, least(hn * img_h, img_h - dy)) AS dh
  FROM denorm
)
SELECT
  ann_id, file_name,
  cls AS category_id,
  {class_name_sql('cls')} AS category_name,
  round(dx + 1e-9, 2) AS x_min,
  round(dy + 1e-9, 2) AS y_min,
  round(dw + 1e-9, 2) AS bbox_w,
  round(dh + 1e-9, 2) AS bbox_h,
  round(conf + 1e-9, 2) AS confidence
FROM denorm2
WHERE conf >= {CONF_THRESHOLD}
"""

# ---------------------------------------------------------------------------
# train_val_split — converter_to_yolo_data.py:102-106, made distributed:
# stable md5 hash of the file name → 80/20 assignment, no driver-side
# materialization (the reference collects every file name into sklearn).
# ---------------------------------------------------------------------------

TRAIN_PCT = 80


def _is_train(file_name: Column) -> Column:
    """Whether the image ``file_name`` falls in the train split."""
    return md5_long(file_name, salt="split:") % 100 < TRAIN_PCT


def _is_train_sql(file_name: str) -> str:
    """DuckDB twin of ``_is_train``."""
    return f"{md5_long_sql(file_name, salt='split:')} % 100 < {TRAIN_PCT}"


def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    images = annotations_df(spark, sf_dir).select("image_id", "file_name").distinct()
    return images.select(
        "image_id",
        "file_name",
        F.when(_is_train(F.col("file_name")), F.lit("train")).otherwise(F.lit("val")).alias("split"),
    )


TRAIN_VAL_SPLIT_SQL = f"""
WITH {ANN_BASE_SQL},
images AS (SELECT DISTINCT image_id, file_name FROM ann_base)
SELECT
  image_id, file_name,
  CASE WHEN {_is_train_sql('file_name')}
       THEN 'train' ELSE 'val' END AS split
FROM images
"""

# ---------------------------------------------------------------------------
# dataset_stats — converter_to_yolo_data.py:142-183: images / labels /
# boxes / missing counts plus per-split image counts, one tiny agg row.
# "Missing annotations" = images whose events are all 'error' type
# (stand-in for the reference's missing-JSON case).
# ---------------------------------------------------------------------------


def dataset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    per_image = ev.groupBy(F.col("user_id").alias("image_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") != "error", 1).otherwise(0)).alias("n_boxes"),
    )
    flagged = per_image.select(
        "image_id",
        "n_boxes",
        _is_train(_doc_png(F.col("image_id"))).cast("int").alias("is_train"),
        (F.col("n_boxes") == 0).cast("int").alias("is_missing"),
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("images"),
        F.count(F.lit(1)).alias("labels"),
        F.sum("n_boxes").alias("boxes"),
        F.sum("is_missing").alias("missing_json"),
        F.sum("is_train").alias("train_images"),
        F.sum(1 - F.col("is_train")).alias("val_images"),
    )


DATASET_STATS_SQL = f"""
WITH per_image AS (
  SELECT
    user_id AS image_id,
    count(*) AS n_events,
    sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS n_boxes
  FROM events
  GROUP BY user_id
),
flagged AS (
  SELECT
    image_id, n_boxes,
    CASE WHEN {_is_train_sql(_doc_png_sql('image_id'))}
         THEN 1 ELSE 0 END AS is_train,
    CASE WHEN n_boxes = 0 THEN 1 ELSE 0 END AS is_missing
  FROM per_image
)
SELECT
  count(*)        AS images,
  count(*)        AS labels,
  CAST(sum(n_boxes)      AS BIGINT) AS boxes,
  CAST(sum(is_missing)   AS BIGINT) AS missing_json,
  CAST(sum(is_train)     AS BIGINT) AS train_images,
  CAST(sum(1 - is_train) AS BIGINT) AS val_images
FROM flagged
"""

# ---------------------------------------------------------------------------
# class_map — the static id→name mapping as a queryable dimension
# (broadcast side of every name-mapping join).
# ---------------------------------------------------------------------------


_CLASS_VALUES = ", ".join(f"({k}, '{v}')" for k, v in sorted(CLASS_MAP.items()))


def class_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pure Catalyst LocalRelation (VALUES) — avoids the RDD-backed
    # createDataFrame path, whose py4j/job overhead dwarfs a 6-row dim.
    return spark.sql(
        f"SELECT category_id, category_name FROM (VALUES {_CLASS_VALUES}) AS t(category_id, category_name)"
    ).select(F.col("category_id").cast("int"), "category_name")


CLASS_MAP_SQL = f"""
SELECT * FROM (VALUES
  {_CLASS_VALUES}
) AS t(category_id, category_name)
"""


# ---------------------------------------------------------------------------
# I/O round-trips — the reference's on-disk formats under the gate.
# write_yolo_labels / read_yolo_predictions / write_competition_json
# (sources/annotations.py) are the reference's primary deliverable
# edges (converter_to_yolo_data.py:92, predictions_to_json.py:124);
# these queries push a derived dataset through write→read and emit
# order-independent checksums, so the driver's oracle certifies the
# physical format end to end: any corruption in the writer's
# formatting or the reader's parsing flips a hash.
# ---------------------------------------------------------------------------


def yolo_label_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YOLO label write→read round-trip: normalize the annotation
    set, write `stem cls %.6f ×4` text shards (write_yolo_labels),
    parse them back with read_yolo_predictions, re-canonicalize each
    parsed row to its line string, and aggregate per class
    (n_boxes + an order-independent md5 line-hash sum). 6-dp decimal
    strings round-trip doubles exactly, so the hash certifies writer
    formatting AND reader parsing; the oracle computes the identical
    lines straight from the base CTE."""
    labels = _yolo_labels(spark, sf_dir, "file_name", F.col("cls").alias("category_id"))
    path = roundtrip_path(spark, "yolo_labels")
    # key-only exchange: AQE sizes the label encode/write fan-out by
    # bytes instead of writing a fixed count of near-empty part files
    # (the per-class checksum is order-independent)
    labels = labels.repartition("file_name")
    write_yolo_labels(labels, path)
    back = read_yolo_predictions(spark, path)
    line = yolo_line(F.col("image_stem"))
    # 32-bit hash slices: the per-class SUM stays far inside int64
    # at any corpus size (2³² · rows), and summing is order-
    # independent, so shard/partition order can't move the checksum.
    h32 = md5_u32(line)
    return (
        back.select("category_id", h32.alias("h"))
        .groupBy("category_id")
        .agg(F.count(F.lit(1)).alias("n_boxes"), F.sum("h").alias("line_hash_sum"))
    )


YOLO_LABEL_ROUNDTRIP_SQL = f"""
WITH {ANN_BASE_SQL},
{_CLIPPED_SQL},
lines AS (
  SELECT cls AS category_id,
         regexp_replace(file_name, '\\.[a-zA-Z]+$', '')
         || ' ' || CAST(cls AS VARCHAR)
         || ' ' || printf('%.6f', round((cx + cw / 2.0) / img_w + 1e-9, 6))
         || ' ' || printf('%.6f', round((cy + ch / 2.0) / img_h + 1e-9, 6))
         || ' ' || printf('%.6f', round(cw / img_w + 1e-9, 6))
         || ' ' || printf('%.6f', round(ch / img_h + 1e-9, 6)) AS line
  FROM clipped2
)
SELECT category_id,
       CAST(count(*) AS BIGINT) AS n_boxes,
       CAST(sum({md5_u32_sql('line')}) AS BIGINT)
         AS line_hash_sum
FROM lines
GROUP BY category_id
"""


def competition_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Competition-JSON write→read round-trip: denormalized
    predictions grouped per image and written as JSON-lines shards
    (write_competition_json), read back (read_competition_json),
    re-exploded, and checksummed per class (distinct images, box
    count, md5 sum over the 2-dp bbox + class tuple). The
    `corruption: none` wrapper rows are counted too, so the writer's
    per-image envelope is certified, not just the box payload."""
    preds = yolo_denormalize(spark, sf_dir)
    path = roundtrip_path(spark, "competition_json")
    write_competition_json(preds, path)
    back = read_competition_json(spark, path)
    ex = back.select(
        "file_name",
        (F.col("corruption.type") == "none").cast("long").alias("envelope_ok"),
        F.explode("annotations").alias("a"),
    )
    key = F.format_string(
        "%.2f|%.2f|%.2f|%.2f|%d|%s",
        F.element_at("a.bbox", 1),
        F.element_at("a.bbox", 2),
        F.element_at("a.bbox", 3),
        F.element_at("a.bbox", 4),
        F.col("a.category_id"),
        F.col("a.category_name"),
    )
    h32 = md5_u32(key)
    return (
        ex.select("file_name", "envelope_ok", F.col("a.category_id").alias("category_id"), h32.alias("h"))
        .groupBy("category_id")
        .agg(
            F.count_distinct("file_name").alias("n_images"),
            F.count(F.lit(1)).alias("n_boxes"),
            F.sum("h").alias("bbox_hash_sum"),
            F.min("envelope_ok").alias("envelope_ok"),
        )
    )


COMPETITION_JSON_ROUNDTRIP_SQL = f"""
WITH denorm_out AS ({YOLO_DENORMALIZE_SQL}),
keyed AS (
  SELECT file_name, category_id,
         printf('%.2f|%.2f|%.2f|%.2f|%d|%s',
                x_min, y_min, bbox_w, bbox_h, category_id, category_name) AS key
  FROM denorm_out
)
SELECT category_id,
       CAST(count(DISTINCT file_name) AS BIGINT) AS n_images,
       CAST(count(*) AS BIGINT) AS n_boxes,
       CAST(sum({md5_u32_sql('key')}) AS BIGINT)
         AS bbox_hash_sum,
       CAST(1 AS BIGINT) AS envelope_ok
FROM keyed
GROUP BY category_id
"""


QUERIES = {
    "yolo_normalize": (yolo_normalize, YOLO_NORMALIZE_SQL),
    "yolo_denormalize": (yolo_denormalize, YOLO_DENORMALIZE_SQL),
    "train_val_split": (train_val_split, TRAIN_VAL_SPLIT_SQL),
    "dataset_stats": (dataset_stats, DATASET_STATS_SQL),
    "class_map": (class_map, CLASS_MAP_SQL),
    "yolo_label_roundtrip": (yolo_label_roundtrip, YOLO_LABEL_ROUNDTRIP_SQL),
    "competition_json_roundtrip": (competition_json_roundtrip, COMPETITION_JSON_ROUNDTRIP_SQL),
}
