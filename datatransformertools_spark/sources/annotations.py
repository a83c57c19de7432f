"""Readers/writers for the reference's on-disk formats.

The reference exchanges data as:
- annotation JSON files (`converter_to_yolo_data.py:10-17`):
  ``{"file_name": ..., "annotations": [{"bbox": [x,y,w,h],
  "category_id": k}, ...]}`` — one file per image;
- YOLO label/prediction txt (`converter_to_yolo_data.py:37-39`,
  `predictions_to_json.py:6-9`): ``cls xc yc wn hn [conf]`` lines,
  one file per image stem;
- competition JSON output (`predictions_to_json.py:13-21`).

Spark-first re-expression: the one-file-per-image layout is a
driver-side pattern that dies at 100 TB, so readers accept a
*directory* (Spark's multiline JSON / text sources parallelize over
files) and writers emit partitioned datasets (one directory per
split / shard, many part-files, each holding many images' rows).
A user migrating from the reference points these at the same
payloads and gets distributed scans instead of a Python for-loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ANNOTATION_JSON_SCHEMA = StructType(
    [
        StructField("file_name", StringType()),
        StructField(
            "annotations",
            ArrayType(
                StructType(
                    [
                        StructField("bbox", ArrayType(DoubleType())),
                        StructField("category_id", LongType()),
                        StructField("category_name", StringType()),
                    ]
                )
            ),
        ),
    ]
)


def read_annotation_json(spark: SparkSession, path: str) -> DataFrame:
    """Annotation JSON dir → one row per (image, annotation).

    multiLine handles the reference's pretty-printed files; invalid
    bboxes (wrong arity) are dropped exactly like
    converter_to_yolo_data.py:166-171 warns-and-skips.
    """
    raw = spark.read.schema(ANNOTATION_JSON_SCHEMA).option("multiLine", "true").json(path)
    ann = raw.select("file_name", F.posexplode_outer("annotations").alias("ann_idx", "ann"))
    return (
        ann.filter(F.col("ann").isNotNull() & (F.size(F.col("ann.bbox")) == 4))
        .select(
            "file_name",
            "ann_idx",
            F.element_at("ann.bbox", 1).alias("x"),
            F.element_at("ann.bbox", 2).alias("y"),
            F.element_at("ann.bbox", 3).alias("w"),
            F.element_at("ann.bbox", 4).alias("h"),
            F.col("ann.category_id").alias("category_id"),
        )
    )


def yolo_line(stem: Column) -> Column:
    """One YOLO label line ``stem cls xc yc wn hn`` (6-dp fixed format,
    converter_to_yolo_data.py:92) over the category_id, x_center,
    y_center, w_norm and h_norm columns."""
    # format_string('%.6f') — NOT format_number, which inserts comma
    # grouping for values >= 1000 and diverges from the reference's
    # f'{v:.6f}' (converter_to_yolo_data.py:92)
    return F.concat_ws(
        " ",
        stem,
        F.col("category_id").cast("string"),
        *(F.format_string("%.6f", F.col(c)) for c in ("x_center", "y_center", "w_norm", "h_norm")),
    )


def write_yolo_labels(df: DataFrame, path: str, split_col: str | None = None) -> None:
    """Write YOLO label lines ``cls xc yc wn hn`` (6-dp fixed format,
    converter_to_yolo_data.py:92) keyed by image.

    Expects columns: file_name, category_id, x_center, y_center,
    w_norm, h_norm. Output is text partitioned by split (if given):
    many part files, each line prefixed with the image stem so a
    consumer can regroup — the scalable stand-in for
    one-file-per-image.
    """
    line = yolo_line(F.regexp_replace("file_name", r"\.[a-zA-Z]+$", ""))
    out = df.select(line.alias("value"), *( [F.col(split_col)] if split_col else [] ))
    writer = out.write.mode("overwrite")
    if split_col:
        writer = writer.partitionBy(split_col)
    writer.text(path)


def read_yolo_predictions(spark: SparkSession, path: str) -> DataFrame:
    """YOLO prediction text (stem-prefixed lines, see
    write_yolo_labels) → typed rows. Malformed lines are dropped,
    mirroring predictions_to_json.py:75-89's parse-or-skip."""
    raw = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    parsed = raw.select(
        F.element_at(parts, 1).alias("image_stem"),
        F.element_at(parts, 2).cast("int").alias("category_id"),
        F.element_at(parts, 3).cast("double").alias("x_center"),
        F.element_at(parts, 4).cast("double").alias("y_center"),
        F.element_at(parts, 5).cast("double").alias("w_norm"),
        F.element_at(parts, 6).cast("double").alias("h_norm"),
        F.try_element_at(parts, F.lit(7)).cast("double").alias("confidence"),
        F.size(parts).alias("_n"),
    )
    return (
        parsed.filter((F.col("_n").isin(6, 7)) & F.col("category_id").isNotNull()
                      & F.col("x_center").isNotNull() & F.col("y_center").isNotNull()
                      & F.col("w_norm").isNotNull() & F.col("h_norm").isNotNull())
        .drop("_n")
    )


def write_competition_json(df: DataFrame, path: str) -> None:
    """Per-image competition JSON (predictions_to_json.py:124-128):
    one JSON document per image with its annotation array, written
    as JSON-lines shards (images with zero annotations included,
    like the reference's empty-annotations case)."""
    per_image = (
        df.groupBy("file_name")
        .agg(
            F.collect_list(
                F.struct(
                    F.array("x_min", "y_min", "bbox_w", "bbox_h").alias("bbox"),
                    F.col("category_id"),
                    F.col("category_name"),
                )
            ).alias("annotations")
        )
        .withColumn("corruption", F.struct(F.lit("none").alias("type"), F.lit(0).alias("severity")))
    )
    per_image.write.mode("overwrite").json(path)


COMPETITION_JSON_SCHEMA = (
    "file_name STRING, "
    "annotations ARRAY<STRUCT<bbox: ARRAY<DOUBLE>, category_id: INT, category_name: STRING>>, "
    "corruption STRUCT<type: STRING, severity: BIGINT>"
)


def read_competition_json(spark: SparkSession, path: str) -> DataFrame:
    """The per-image documents ``write_competition_json`` wrote, read
    back under their declared schema (no inference pass)."""
    return spark.read.schema(COMPETITION_JSON_SCHEMA).json(path)
