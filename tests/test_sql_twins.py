"""Each DuckDB twin returns the same values as the Spark builder it
mirrors, on small hand-built frames that hit the edge cases the staged
test data never does (empty text, control-whitespace runs, zero
vectors, degenerate boxes, session and funnel boundaries, window and
budget boundaries, vocabulary ties). The oracles certify these twins
only end to end; these tests pin each one directly."""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from datatransformertools_spark.functions.bbox import clip_box, iou_xywh, iou_xywh_sql
from datatransformertools_spark.functions.hashing import md5_long, md5_long_sql, md5_u32, md5_u32_sql
from datatransformertools_spark.functions.scaling import zscore, zscore_sql
from datatransformertools_spark.functions.text import (
    norm_tokens,
    norm_tokens_sql,
    normalize_sql,
    normalize_text,
    tokens,
    tokens_sql,
)
from datatransformertools_spark.functions.vectors import cosine_prenormed, cosine_sql, norm, norm_sql
from datatransformertools_spark.operators.annotations import (
    _CLIPPED_SQL,
    CLASS_MAP,
    N_CLASSES,
    TRAIN_PCT,
    _doc_png,
    _doc_png_sql,
    _is_train,
    _is_train_sql,
    class_name,
    class_name_sql,
)
from datatransformertools_spark.operators.corpus import (
    _PACK_OFFSET_SQL,
    _PACK_TOKS_SQL,
    CTX_LEN,
    TB_BUCKETS,
    TB_BUDGET_TOKENS,
    TB_SALT,
    TOKEN_BUDGET_SAMPLE_SQL,
    TOKENIZE_TO_IDS_ARRAY_SQL,
    TOKENIZE_UNK_ID,
    TOKENIZE_VOCAB_V,
    _packed,
    _token_ids,
    _token_vocab_sql,
    _windows,
    _windows_sql,
    token_budget_sample,
)
from datatransformertools_spark.operators.events import (
    _FUNNEL_STEPS_SQL,
    SESSION_GAP_US,
    _events_us,
    _funnel_steps,
    _sessions,
    _sessions_sql,
)
from datatransformertools_spark.operators.multimodal import (
    PAGE_SIZE,
    _make_stub_detector,
    _stub_boxes_sql,
)
from datatransformertools_spark.operators.quality import _FILTER_BASE_SQL, _filter_base
from datatransformertools_spark.operators.text_analysis import (
    QUALITY_SCORE_SQL,
    quality_score_expr,
)
from datatransformertools_spark.sources.annotations import (
    read_yolo_predictions,
    write_yolo_labels,
    yolo_line,
)
from datatransformertools_spark.sources.tables import load_table

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
        [
            cosine_prenormed(F.col("a"), F.col("b"), norm(F.col("a")), norm(F.col("b"))),
            norm(F.col("a")),
        ],
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


FEATURES = [
    # f1 is constant (zero variance), f2 has a 6-dp-boundary spread,
    # f3 a wide one with a negative value
    (0, 2.5, 0.1, -40.0),
    (1, 2.5, 0.2, 10.0),
    (2, 2.5, 0.3, 1e6),
    (3, 2.5, 0.1000005, 7.25),
]


def test_zscore_twin_matches_spark(spark):
    df = spark.createDataFrame(FEATURES, "id int, f1 double, f2 double, f3 double")
    joined, z = zscore(df, 3)
    spark_rows = [tuple(r) for r in joined.select("id", *z).orderBy("id").collect()]
    stats, z_sql = zscore_sql(3, "t")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, f1 DOUBLE, f2 DOUBLE, f3 DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", FEATURES)
    duck_rows = con.sql(
        f"WITH {stats} SELECT id, {', '.join(z_sql)} FROM t CROSS JOIN stats ORDER BY id"
    ).fetchall()
    assert duck_rows == spark_rows
    assert all(r[1] == 0.0 for r in spark_rows)
    assert len({r[2] for r in spark_rows}) > 1


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


LINES = [
    (0, ""),
    (1, "1|36901|O|173665.4700|1996-01-02|5-LOW"),
    (2, "doc_0 3 0.512300 0.250000 0.100000 0.333333"),
]


def test_md5_u32_twin_matches_spark(spark):
    spark_rows = _spark_rows(spark, [md5_u32(F.col("line"))], LINES, "id int, line string")
    duck_rows = _duck_rows(md5_u32_sql("line"), LINES, "id INTEGER, line VARCHAR")
    assert duck_rows == spark_rows
    assert all(0 <= h < 1 << 32 for _, h in duck_rows)


MD5_TEXTS = [(0, ""), (1, "doc_00042.png"), (2, "naïve — 日本語 ✓"), (3, None)]


@pytest.mark.parametrize("salt", [None, "", "split:"])
def test_md5_long_twin_matches_spark(spark, salt):
    spark_rows = _spark_rows(
        spark, [md5_long(F.col("s"), salt=salt)], MD5_TEXTS, "id int, s string"
    )
    duck_rows = _duck_rows(md5_long_sql("s", salt=salt), MD5_TEXTS, "id INTEGER, s VARCHAR")
    assert duck_rows == spark_rows
    assert duck_rows[-1] == (3, None)
    assert duck_rows[:-1] == [
        (i, int(hashlib.md5(((salt or "") + t).encode()).hexdigest()[:15], 16))
        for i, t in MD5_TEXTS[:-1]
    ]


def test_class_name_twin_matches_spark(spark):
    ids = [(i, i) for i in range(N_CLASSES + 1)]  # the last id is off the map
    spark_rows = _spark_rows(spark, [class_name(F.col("cls"))], ids, "id int, cls int")
    duck_rows = _duck_rows(class_name_sql("cls"), ids, "id INTEGER, cls INTEGER")
    assert duck_rows == spark_rows
    assert [name for _, name in duck_rows] == [*CLASS_MAP.values(), None]


def test_split_rule_twins_match_spark(spark):
    # 123456 has six digits: lpad truncates it to five in both engines;
    # 83 and 15 hash to buckets 79 and 80, either side of TRAIN_PCT
    uids = [(i, uid) for i, uid in enumerate([0, 42, 99999, 123456, 83, 15, *range(100, 140)])]
    spark_rows = _spark_rows(
        spark,
        [_doc_png(F.col("uid")), _is_train(_doc_png(F.col("uid")))],
        uids,
        "id int, uid long",
    )
    duck_rows = _duck_rows(
        f"{_doc_png_sql('uid')}, {_is_train_sql(_doc_png_sql('uid'))}",
        uids,
        "id INTEGER, uid BIGINT",
    )
    assert duck_rows == spark_rows
    assert [f for _, f, _ in duck_rows[:4]] == [
        "doc_00000.png", "doc_00042.png", "doc_99999.png", "doc_12345.png"
    ]
    assert [t for _, _, t in duck_rows[4:6]] == [True, False]
    assert all(
        t == (int(hashlib.md5(f"split:{f}".encode()).hexdigest()[:15], 16) % 100 < TRAIN_PCT)
        for _, f, t in duck_rows
    )


CLIP_BOXES = [  # (id, x, y, w, h, img_w, img_h)
    (0, 10.0, 20.0, 30.0, 40.0, 640.0, 480.0),  # inside
    (1, 600.0, 20.0, 100.0, 40.0, 640.0, 480.0),  # past the right edge
    (2, 10.0, 450.0, 30.0, 100.0, 640.0, 480.0),  # past the bottom edge
    (3, 700.0, 500.0, 30.0, 40.0, 640.0, 480.0),  # starts past both far edges
    (4, -50.0, -20.0, 100.0, 60.0, 640.0, 480.0),  # negative origin
    (5, -10.0, -10.0, 2000.0, 2000.0, 640.0, 480.0),  # covers the image
    (6, 10.0, 10.0, -5.0, -5.0, 640.0, 480.0),  # negative size
]


def test_clipped_twin_matches_clip_box(spark):
    cols = ["x", "y", "w", "h", "img_w", "img_h"]
    spark_rows = _spark_rows(
        spark,
        list(clip_box(*[F.col(c) for c in cols])),
        CLIP_BOXES,
        "id int, " + ", ".join(f"{c} double" for c in cols),
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE ann_base (id INTEGER, " + ", ".join(f"{c} DOUBLE" for c in cols) + ")")
    con.executemany("INSERT INTO ann_base VALUES (?, ?, ?, ?, ?, ?, ?)", CLIP_BOXES)
    duck_rows = con.sql(
        f"WITH {_CLIPPED_SQL} SELECT id, cx, cy, cw, ch FROM clipped2 ORDER BY id"
    ).fetchall()
    assert duck_rows == spark_rows
    assert duck_rows[3] == (3, 640.0, 480.0, 0.0, 0.0)
    assert duck_rows[4] == (4, 0.0, 0.0, 100.0, 60.0)
    assert duck_rows[5] == (5, 0.0, 0.0, 640.0, 480.0)
    assert duck_rows[6] == (6, 10.0, 10.0, 0.0, 0.0)


def test_stub_boxes_twin_replays_the_stub_detector():
    # (key, n_dets, n_bytes): doc keys, a server page key, an empty key
    src = [(str(k), 3, k * 7) for k in range(200)] + [("5:3", 2, 120), ("", 1, 0)]
    detect = _make_stub_detector()
    python_rows = sorted(
        (key, d["det_idx"], d["category_id"], d["x"], d["y"], d["w"], d["h"], d["confidence"])
        for key, n_dets, n_bytes in src
        for d in detect(key, n_dets, n_bytes)
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE src (key VARCHAR, n_dets BIGINT, n_bytes BIGINT)")
    con.executemany("INSERT INTO src VALUES (?, ?, ?)", src)
    duck_rows = con.sql(
        f"""WITH dets AS (
  SELECT key, CAST(j AS INTEGER) AS det_idx, md5(key || ':' || j || ':' || n_bytes) AS hx
  FROM src, unnest(range(0, n_dets)) AS t(j)
),
{_stub_boxes_sql("key, det_idx")}
SELECT key, det_idx, category_id, x1, y1, x2 - x1, y2 - y1, conf_milli
FROM boxes ORDER BY key, det_idx"""
    ).fetchall()
    assert duck_rows == python_rows
    # boxes clipped at each page edge are among them
    assert any(r[3] == 0 for r in duck_rows) and any(r[4] == 0 for r in duck_rows)
    assert any(r[3] + r[5] == PAGE_SIZE for r in duck_rows)
    assert any(r[4] + r[6] == PAGE_SIZE for r in duck_rows)


def test_yolo_line_rebuilds_the_written_labels(spark, tmp_path):
    labels = spark.createDataFrame(
        [
            ("doc_00001.png", 1, 0.5, 0.25, 0.1, 0.333333),
            ("doc_00001.png", 4, 1234.5, 0.0, 1.0, 1e-7),  # no comma grouping
            ("scan.v2.jpeg", 0, 0.1234565, 0.9999995, 0.0000005, 0.123456789),
        ],
        "file_name string, category_id int, x_center double, y_center double,"
        " w_norm double, h_norm double",
    )
    path = str(tmp_path / "labels")
    write_yolo_labels(labels, path)
    written = sorted(r.value for r in spark.read.text(path).collect())
    back = read_yolo_predictions(spark, path)
    rebuilt = sorted(r[0] for r in back.select(yolo_line(F.col("image_stem"))).collect())
    assert rebuilt == written
    assert "doc_00001 4 1234.500000 0.000000 1.000000 0.000000" in written
    assert len(written) == 3


def _events_dir(tmp_path, rows: list[tuple]) -> tuple[duckdb.DuckDBPyConnection, str]:
    """Stage (user_id, event_id, event_type, ts_us) rows as the events
    table that both engines read; returns the DuckDB connection and the
    table directory."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (user_id BIGINT, event_id BIGINT, event_type VARCHAR,"
        " ts TIMESTAMP, value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?, make_timestamp(?::BIGINT), 1.0)", rows
    )
    con.execute(f"COPY events TO '{tmp_path}/events.parquet' (FORMAT parquet)")
    return con, str(tmp_path)


T0 = 1_700_000_000_000_000
GAP = SESSION_GAP_US


def test_sessions_twin_matches_spark_at_the_gap_boundaries(spark, tmp_path):
    con, sf_dir = _events_dir(
        tmp_path,
        [
            (1, 1, "view", T0),
            (1, 2, "view", T0 + GAP),  # gap exactly τ: same session
            (1, 3, "view", T0 + 2 * GAP + 1),  # gap τ + 1 µs: new session
            # equal timestamps order by event_id: 6 opens the session, 7 joins it
            (1, 7, "view", T0 + 3 * GAP + 2),
            (1, 6, "view", T0 + 3 * GAP + 2),
            (2, 9, "view", T0),
        ],
    )
    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "ts_us")
    spark_rows = [
        tuple(r)
        for r in _sessions(ev)
        .select("user_id", "event_id", "new_session", "session_idx")
        .orderBy("user_id", "event_id")
        .collect()
    ]
    duck_rows = con.sql(
        f"{_sessions_sql()} SELECT user_id, event_id, new_session, session_idx"
        " FROM sessions ORDER BY user_id, event_id"
    ).fetchall()
    assert duck_rows == spark_rows == [
        (1, 1, 1, 1),
        (1, 2, 0, 1),
        (1, 3, 1, 2),
        (1, 6, 1, 3),
        (1, 7, 0, 3),
        (2, 9, 1, 1),
    ]


def test_funnel_steps_twin_matches_spark(spark, tmp_path):
    con, sf_dir = _events_dir(
        tmp_path,
        [
            # a click before the first view does not count
            (1, 1, "click", T0),
            (1, 2, "view", T0 + 10),
            (1, 3, "purchase", T0 + 20),
            # a purchase in the same µs as its click counts
            (2, 4, "view", T0),
            (2, 5, "click", T0 + 5),
            (2, 6, "purchase", T0 + 5),
            # the first qualifying click, then the first purchase after it
            (3, 7, "click", T0),
            (3, 8, "view", T0 + 10),
            (3, 9, "purchase", T0 + 12),
            (3, 10, "click", T0 + 15),
            (3, 11, "purchase", T0 + 30),
        ],
    )
    spark_rows = [tuple(r) for r in _funnel_steps(spark, sf_dir).orderBy("user_id").collect()]
    duck_rows = con.sql(
        f"{_FUNNEL_STEPS_SQL} SELECT user_id, v, c, p FROM per_user ORDER BY user_id"
    ).fetchall()
    assert duck_rows == spark_rows == [
        (1, T0 + 10, None, None),
        (2, T0, T0 + 5, T0 + 5),
        (3, T0 + 10, T0 + 15, T0 + 30),
    ]


def _docs_dir(tmp_path, rows: list[tuple]) -> tuple[duckdb.DuckDBPyConnection, str]:
    """Stage (doc_id, source, text) rows as the documents table that
    both engines read; returns the DuckDB connection and the table
    directory."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO documents VALUES (?, ?, 'en', ?, length(?))",
        [(d, t, src, t) for d, src, t in rows],
    )
    con.execute(f"COPY documents TO '{tmp_path}/documents.parquet' (FORMAT parquet)")
    return con, str(tmp_path)


def _words(n: int, word: str = "w") -> str:
    return " ".join([word] * n)


def test_filter_base_twin_matches_spark(spark, tmp_path):
    con, sf_dir = _docs_dir(
        tmp_path,
        [
            # case and whitespace differ only: one normalized text, one hash
            (1, "s", "The  Cat\tsat"),
            (2, "s", " the cat sat "),
            (3, "s", ""),
            (4, "s", "a b c d e f g h i j"),
            (5, "s", _words(120, "x")),
        ],
    )
    base, bounds = _filter_base(spark, sf_dir)
    spark_base = [tuple(r) for r in base.orderBy("doc_id").collect()]
    spark_bounds = [tuple(r) for r in bounds.collect()]
    duck_base = con.sql(
        f"WITH {_FILTER_BASE_SQL} SELECT doc_id, n_chars, h, n_tok, q FROM base ORDER BY doc_id"
    ).fetchall()
    duck_bounds = con.sql(f"WITH {_FILTER_BASE_SQL} SELECT p_lo, p_hi FROM bounds").fetchall()
    assert duck_base == spark_base
    assert duck_bounds == spark_bounds
    h = {r[0]: r[2] for r in spark_base}
    assert h[1] == h[2] != h[4]
    # the empty text is a document too: one empty token, hash of ""
    assert spark_base[2][:4] == (3, 0, hashlib.md5(b"").hexdigest(), 1)


def test_packing_twins_match_spark_at_the_window_boundary(spark, tmp_path):
    con, sf_dir = _docs_dir(
        tmp_path,
        [
            (1, "s1", _words(CTX_LEN)),  # ends exactly on the boundary
            (2, "s1", _words(10)),  # starts the next window
            (3, "s1", _words(CTX_LEN)),  # straddles into window 2
            (4, "s2", "one"),  # another source packs from 0
        ],
    )
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(norm_tokens(F.col("text")))
    )
    window_id, crosses = _windows(CTX_LEN)
    spark_rows = [
        tuple(r)
        for r in _packed(docs)
        .select("doc_id", "start_offset", window_id, crosses)
        .orderBy("doc_id")
        .collect()
    ]
    duck_rows = con.sql(
        f"WITH {_PACK_TOKS_SQL}, packed AS (SELECT doc_id, n_tokens, {_PACK_OFFSET_SQL}"
        f" AS start_offset FROM toks) SELECT doc_id, start_offset, {_windows_sql(CTX_LEN)}"
        " FROM packed ORDER BY doc_id"
    ).fetchall()
    assert duck_rows == spark_rows == [
        (1, 0, 0, 0),
        (2, CTX_LEN, 1, 0),
        (3, CTX_LEN + 10, 1, 1),
        (4, 0, 0, 0),
    ]


def test_token_ids_twin_breaks_count_ties_by_token(spark, tmp_path):
    # "b", "a" and "x01" tie at 3 occurrences; 19 more tokens tie at 2
    # for the V - 3 slots left, so the vocabulary cut falls inside that
    # tie: "x19" and "y" fall out of vocabulary, as does "zz"
    tied = [f"x{i:02d}" for i in range(1, 20)] + ["y"]
    con, sf_dir = _docs_dir(
        tmp_path,
        [
            (1, "s", "b a b a " + " ".join(tied)),
            (2, "s", "A B " + " ".join(tied)),
            (3, "s", "zz x01"),
        ],
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    spark_rows = [
        (r["doc_id"], list(r["input_ids"]), r["n_tokens"], r["n_oov"])
        for r in _token_ids(docs).orderBy("doc_id").collect()
    ]
    duck_rows = [
        (d, list(ids), n, oov)
        for d, ids, n, oov in con.sql(
            f"SELECT * FROM ({TOKENIZE_TO_IDS_ARRAY_SQL}) ORDER BY doc_id"
        ).fetchall()
    ]
    assert duck_rows == spark_rows
    vocab = con.sql(
        f"WITH {_token_vocab_sql()} SELECT token, token_id FROM vocab ORDER BY token_id"
    ).fetchall()
    assert vocab == [("a", 1), ("b", 2)] + [
        (t, i) for i, t in enumerate(tied[: TOKENIZE_VOCAB_V - 2], 3)
    ]
    assert spark_rows[2] == (3, [TOKENIZE_UNK_ID, 3], 2, 1)


def _tb_h(doc_id: int) -> int:
    """``md5_long`` of the salted doc_id, the take-while's order key."""
    return int(hashlib.md5(f"{TB_SALT}{doc_id}".encode()).hexdigest()[:15], 16)


def test_token_budget_keeps_the_doc_that_meets_the_budget_exactly(spark, tmp_path):
    # two docs in one hash bucket (a before b) and one in a lower bucket
    # (c): c and a sum to the budget exactly, so the boundary bucket's
    # doc-grain pass keeps a and drops b
    by_bucket: dict[int, list[int]] = {}
    for d in range(1, 400):
        by_bucket.setdefault(_tb_h(d) % TB_BUCKETS, []).append(d)
    shared = min(b for b, ds in by_bucket.items() if len(ds) >= 2 and b > min(by_bucket))
    a, b = sorted(by_bucket[shared][:2], key=_tb_h)
    c = by_bucket[min(by_bucket)][0]
    half = TB_BUDGET_TOKENS // 2
    con, sf_dir = _docs_dir(
        tmp_path,
        [
            (c, "s1", _words(half)),
            (a, "s1", _words(TB_BUDGET_TOKENS - half)),
            (b, "s1", "w"),
            (1000, "s2", _words(3)),  # a source that fits whole
        ],
    )
    spark_rows = sorted(tuple(r) for r in token_budget_sample(spark, sf_dir).collect())
    duck_rows = sorted(con.sql(TOKEN_BUDGET_SAMPLE_SQL).fetchall())
    assert duck_rows == spark_rows == [
        ("s1", 3, TB_BUDGET_TOKENS + 1, 2, TB_BUDGET_TOKENS, 1.0, round(1000 / 1001 + 1e-9, 6)),
        ("s2", 1, 3, 1, 3, round(3 / TB_BUDGET_TOKENS + 1e-9, 6), 1.0),
    ]
