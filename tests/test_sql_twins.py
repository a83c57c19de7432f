"""Each DuckDB twin returns the same values as the Spark builder it
mirrors, on small hand-built frames that hit the edge cases the staged
test data never does (empty text, control-whitespace runs, zero
vectors, degenerate boxes). The oracles certify these twins only end
to end; these tests pin each one directly."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from datatransformertools_spark.functions.bbox import iou_xywh, iou_xywh_sql
from datatransformertools_spark.functions.text import (
    norm_tokens_sql,
    normalize_sql,
    normalize_text,
    tokens,
    tokens_sql,
)
from datatransformertools_spark.functions.vectors import cosine, cosine_sql, norm, norm_sql
from datatransformertools_spark.operators.text_analysis import (
    QUALITY_SCORE_SQL,
    quality_score_expr,
)

TEXTS = [
    "",
    " ",
    "     ",
    "\t\n\r\f",
    "a\t\tb\n\nc\r\rd\f\fe",
    "a \t\n\r\f b",
    "  leading and trailing  ",
    "\nline one\nline two\n",
    "MiXeD CaSe TeXt",
    "the the the cat the",
    "word",
    "dup dup  dup\tdup",
]


def _duck_rows(sql_select: str, rows: list[tuple], columns: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({columns})")
    con.executemany(f"INSERT INTO t VALUES ({', '.join('?' for _ in rows[0])})", rows)
    return con.sql(f"SELECT id, {sql_select} FROM t ORDER BY id").fetchall()


def _spark_rows(spark, exprs, rows: list[tuple], schema: str) -> list[tuple]:
    df = spark.createDataFrame(rows, schema)
    return [tuple(r) for r in df.select("id", *exprs).orderBy("id").collect()]


@pytest.fixture(scope="module")
def text_rows():
    return [(i, t, len(t)) for i, t in enumerate(TEXTS)]


def test_normalize_and_tokens_twins_match_spark(spark, text_rows):
    spark_rows = _spark_rows(
        spark,
        [
            normalize_text(F.col("text")),
            tokens(normalize_text(F.col("text"))),
            tokens(F.col("text")),
        ],
        text_rows,
        "id int, text string, n_chars int",
    )
    duck_rows = _duck_rows(
        f"{normalize_sql()}, {tokens_sql(normalize_sql())}, {tokens_sql('text')}",
        text_rows,
        "id INTEGER, text VARCHAR, n_chars INTEGER",
    )
    assert [(i, n, list(a), list(b)) for i, n, a, b in duck_rows] == [
        (i, n, list(a), list(b)) for i, n, a, b in spark_rows
    ]
    # the short form drops only a trim that is a no-op on normalized text
    short = _duck_rows(norm_tokens_sql(), text_rows, "id INTEGER, text VARCHAR, n_chars INTEGER")
    assert [list(t) for _, t in short] == [list(r[2]) for r in spark_rows]


def test_quality_score_twin_matches_spark(spark, text_rows):
    spark_rows = _spark_rows(
        spark, [quality_score_expr()], text_rows, "id int, text string, n_chars int"
    )
    duck_rows = _duck_rows(
        QUALITY_SCORE_SQL, text_rows, "id INTEGER, text VARCHAR, n_chars INTEGER"
    )
    assert duck_rows == spark_rows


VECTORS = [
    (0, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),  # zero vector → 0.0, not NaN
    (1, [0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),
    (2, [1.0, 2.0, 3.0], [2.0, 4.0, 6.0]),  # parallel
    (3, [1.0, 2.0, 3.0], [-1.0, -2.0, -3.0]),  # anti-parallel
    (4, [1.0, 0.0, 0.0], [0.0, 5.0, 0.0]),  # orthogonal
    (5, [0.1, -0.7, 0.3], [0.9, 0.2, -0.4]),
]


def test_cosine_and_norm_twins_match_spark(spark):
    spark_rows = _spark_rows(
        spark,
        [cosine(F.col("a"), F.col("b")), norm(F.col("a"))],
        VECTORS,
        "id int, a array<double>, b array<double>",
    )
    duck_rows = _duck_rows(
        f"{cosine_sql('a', 'b')}, {norm_sql('a')}",
        VECTORS,
        "id INTEGER, a DOUBLE[], b DOUBLE[]",
    )
    assert duck_rows == spark_rows
    cos = {i: c for i, c, _ in duck_rows}
    assert cos[0] == cos[1] == 0.0 and cos[4] == 0.0


BOXES = [
    (0, 0.0, 0.0, 10.0, 10.0, 20.0, 20.0, 5.0, 5.0),  # disjoint
    (1, 0.0, 0.0, 10.0, 10.0, 10.0, 0.0, 10.0, 10.0),  # touching edge
    (2, 0.0, 0.0, 10.0, 10.0, 10.0, 10.0, 4.0, 4.0),  # touching corner
    (3, 0.0, 0.0, 10.0, 10.0, 2.0, 2.0, 4.0, 4.0),  # nested
    (4, 0.0, 0.0, 10.0, 10.0, 0.0, 0.0, 10.0, 10.0),  # identical
    (5, 5.0, 5.0, 0.0, 0.0, 5.0, 5.0, 0.0, 0.0),  # both zero-area
    (6, 0.0, 0.0, 0.0, 7.0, 0.0, 0.0, 3.0, 3.0),  # one zero-width
    (7, 1.5, 2.5, 3.0, 4.0, 2.0, 3.0, 5.0, 1.0),  # partial overlap
]


def test_iou_twin_matches_spark(spark):
    cols = ["ax", "ay", "aw", "ah", "bx", "by", "bw", "bh"]
    spark_rows = _spark_rows(
        spark,
        [iou_xywh(*[F.col(c) for c in cols])],
        BOXES,
        "id int, " + ", ".join(f"{c} double" for c in cols),
    )
    duck_rows = _duck_rows(
        iou_xywh_sql(("ax", "ay", "aw", "ah"), ("bx", "by", "bw", "bh")),
        BOXES,
        "id INTEGER, " + ", ".join(f"{c} DOUBLE" for c in cols),
    )
    assert duck_rows == spark_rows
    iou = dict(duck_rows)
    assert iou[0] == iou[1] == iou[2] == iou[5] == 0.0
    assert iou[3] == 16.0 / 100.0 and iou[4] == 1.0
