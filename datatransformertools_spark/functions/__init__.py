"""Column-level building blocks — the public expression library.

Everything here returns `pyspark.sql.Column` built from JVM
functions (no UDFs), so composed expressions stay inside
whole-stage codegen and are bit-reproducible in any engine that
implements the same md5/IEEE semantics (the DuckDB oracle does).
"""

from datatransformertools_spark.functions.bbox import clip_box, iou_xywh
from datatransformertools_spark.functions.hashing import lsh_band_keys, md5_long
from datatransformertools_spark.functions.text import normalize_text, tokens, word_shingles
from datatransformertools_spark.functions.vectors import (
    as_double,
    cosine_prenormed,
    dot,
    norm,
)

__all__ = [
    "as_double",
    "clip_box",
    "cosine_prenormed",
    "dot",
    "iou_xywh",
    "lsh_band_keys",
    "md5_long",
    "norm",
    "normalize_text",
    "tokens",
    "word_shingles",
]
