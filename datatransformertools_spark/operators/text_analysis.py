"""Text analysis operators over the ``documents`` table.

Language-ID, quality scoring, token counting, and fingerprinting —
the per-document text featurization a training-data pipeline runs
before filtering. Everything is a narrow per-row projection built
from JVM string/regex functions: zero shuffles, scan-bound at any
scale, and exactly mirrored in the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datatransformertools_spark.caching import Memo, track
from datatransformertools_spark.functions.hashing import md5_long, md5_long_sql
from datatransformertools_spark.functions.text import (
    norm_tokens,
    norm_tokens_sql,
    normalize_sql,
    normalize_text,
    tokens_sql,
    word_shingles,
)
from datatransformertools_spark.sources.tables import fan_out, load_table

# English-ish function words used by the marker heuristic.
_MARKERS = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "la", "des"),
    "de": ("der", "die", "und"),
}

# ---------------------------------------------------------------------------
# text_stats — token/char counts and character-class ratios
# ---------------------------------------------------------------------------


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    norm = normalize_text(F.col("text"))
    n_tokens = F.size(norm_tokens(F.col("text")))
    n_chars = F.length(F.col("text"))
    n_alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(F.col("text"), r"[^0-9]", ""))
    n_space = F.length(F.regexp_replace(F.col("text"), r"[^ ]", ""))
    avg_tok = F.when(n_tokens > 0, F.length(F.regexp_replace(norm, r" ", "")) / n_tokens).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.round(avg_tok + 1e-9, 6).alias("avg_token_len"),
        F.round(n_alpha / n_chars + 1e-9, 6).alias("alpha_ratio"),
        F.round(n_digit / n_chars + 1e-9, 6).alias("digit_ratio"),
        F.round(n_space / n_chars + 1e-9, 6).alias("space_ratio"),
    )


TEXT_STATS_SQL = rf"""
WITH base AS (
  SELECT doc_id, text,
         {normalize_sql()} AS norm
  FROM documents
),
m AS (
  SELECT doc_id, text, norm,
         len(regexp_split_to_array(trim(norm), '\s+'))          AS n_tokens,
         length(text)                                           AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))     AS n_alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g'))        AS n_digit,
         length(regexp_replace(text, '[^ ]', '', 'g'))          AS n_space
  FROM base
)
SELECT
  doc_id,
  n_tokens,
  n_chars,
  round(CASE WHEN n_tokens > 0
             THEN length(regexp_replace(norm, ' ', '', 'g'))::DOUBLE / n_tokens
             ELSE 0.0 END + 1e-9, 6) AS avg_token_len,
  round(n_alpha::DOUBLE / n_chars + 1e-9, 6) AS alpha_ratio,
  round(n_digit::DOUBLE / n_chars + 1e-9, 6) AS digit_ratio,
  round(n_space::DOUBLE / n_chars + 1e-9, 6) AS space_ratio
FROM m
"""

# ---------------------------------------------------------------------------
# text_quality — composite score + keep flag (the filter a pipeline
# would apply before training)
# ---------------------------------------------------------------------------


def _token_stats() -> tuple[Column, Column]:
    """(n_tokens, uniq_ratio) of the ``text`` column's tokens."""
    tok = norm_tokens(F.col("text"))
    n_tokens = F.size(tok)
    n_uniq = F.size(F.array_distinct(tok))
    return n_tokens, F.when(n_tokens > 0, n_uniq / n_tokens).otherwise(F.lit(0.0))


def quality_score_expr() -> Column:
    """The 6-dp-quantized quality score over (text, n_chars) —
    shared by `text_quality`, the corpus filters and the keep-best
    dedup so they all rank documents identically."""
    _, uniq_ratio = _token_stats()
    len_score = F.least(F.col("n_chars") / F.lit(400.0), F.lit(1.0))
    return F.round(0.5 * uniq_ratio + 0.5 * len_score + 1e-9, 6)


def quality_terms_sql(toks: str) -> str:
    """The unrounded ``quality_score_expr`` in DuckDB SQL, over the token
    array expression ``toks`` and the ``n_chars`` column."""
    return f"""0.5 * (CASE WHEN len({toks}) > 0
                       THEN len(list_distinct({toks}))::DOUBLE
                            / len({toks})
                       ELSE 0.0 END)
           + 0.5 * least(n_chars / 400.0, 1.0) + 1e-9"""


# DuckDB twin of ``quality_score_expr``
QUALITY_SCORE_SQL = f"""round(
           {quality_terms_sql(tokens_sql(normalize_sql()))}, 6)"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    n_tokens, uniq_ratio = _token_stats()
    score = quality_score_expr()
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(uniq_ratio + 1e-9, 6).alias("uniq_token_ratio"),
        score.alias("quality_score"),
        (score >= 0.5).cast("int").alias("keep"),
    )


TEXT_QUALITY_SQL = rf"""
WITH base AS (
  SELECT doc_id, n_chars,
         {tokens_sql(normalize_sql())} AS t
  FROM documents
),
m AS (
  SELECT doc_id, n_chars, len(t) AS n_tokens,
         len(list_distinct(t)) AS n_uniq
  FROM base
),
s AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens > 0 THEN n_uniq::DOUBLE / n_tokens ELSE 0.0 END AS uniq_ratio,
         least(n_chars / 400.0, 1.0) AS len_score
  FROM m
)
SELECT doc_id, n_tokens,
       round(uniq_ratio + 1e-9, 6) AS uniq_token_ratio,
       round(0.5 * uniq_ratio + 0.5 * len_score + 1e-9, 6) AS quality_score,
       CASE WHEN round(0.5 * uniq_ratio + 0.5 * len_score + 1e-9, 6) >= 0.5 THEN 1 ELSE 0 END AS keep
FROM s
"""

# ---------------------------------------------------------------------------
# lang_id — function-word marker heuristic
# ---------------------------------------------------------------------------


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/function-word language heuristic: count marker-word
    hits per language over the token set; argmax wins (ties broken
    by language code). The testdata's text is synthetic word salad,
    so the point is the operator shape — the heuristic itself is
    the standard stopword-profile approach."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tok = norm_tokens(F.col("text"))
    scores = [
        sum(F.array_contains(tok, m).cast("int") for m in markers).alias(f"score_{code}")
        for code, markers in _MARKERS.items()
    ]
    scored = docs.select("doc_id", "lang", *scores)
    best = F.greatest(*[F.col(f"score_{c}") for c in _MARKERS])
    pred = F.when(best == 0, F.lit("unk"))
    for code in sorted(_MARKERS):
        pred = pred.when(F.col(f"score_{code}") == best, F.lit(code))
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[F.col(f"score_{c}") for c in sorted(_MARKERS)],
        pred.alias("pred_lang"),
    )


def _lang_id_sql() -> str:
    score_exprs = ",\n    ".join(
        " + ".join(f"(CASE WHEN list_contains(t, '{m}') THEN 1 ELSE 0 END)" for m in markers)
        + f" AS score_{code}"
        for code, markers in _MARKERS.items()
    )
    codes = sorted(_MARKERS)
    best = "greatest(" + ", ".join(f"score_{c}" for c in _MARKERS) + ")"
    pred = "CASE WHEN " + best + " = 0 THEN 'unk' "
    for code in codes:
        pred += f"WHEN score_{code} = {best} THEN '{code}' "
    pred += "END"
    return rf"""
WITH base AS (
  SELECT doc_id, lang,
         {norm_tokens_sql()} AS t
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
    {score_exprs}
  FROM base
)
SELECT doc_id, lang AS labeled_lang,
       {", ".join(f"score_{c}" for c in codes)},
       {pred} AS pred_lang
FROM scored
"""


LANG_ID_SQL = _lang_id_sql()


def lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the
    corpus's labeled `lang` column — the in-engine accuracy audit
    run before trusting lang_id gates downstream filtering (the
    measurement twin of `ann_recall_eval` / `dedup_lsh_quality`).
    Emits one row per (labeled, predicted) cell with its count and
    the share of that labeled language it represents.

    Scale design: reuses the gated lang_id plan (zero-shuffle
    scoring); the confusion matrix is one |langs|²-bounded
    partial-agg shuffle, and the per-label share is a window over
    that tiny frame."""
    pred = lang_id(spark, sf_dir).select("labeled_lang", "pred_lang")
    cells = pred.groupBy("labeled_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    label_total = F.sum("n_docs").over(Window.partitionBy("labeled_lang"))
    return cells.select(
        "labeled_lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / label_total + 1e-9, 6).alias("share_of_label"),
    )


LANG_ID_EVAL_SQL = f"""
WITH pred AS (SELECT labeled_lang, pred_lang FROM ({LANG_ID_SQL})),
cells AS (
  SELECT labeled_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT labeled_lang, pred_lang, n_docs,
       round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY labeled_lang) + 1e-9, 6)
         AS share_of_label
FROM cells
"""

# ---------------------------------------------------------------------------
# token_count_bpe — whitespace + BPE-ish regex token counting
# ---------------------------------------------------------------------------

# BPE-style pre-tokenizer classes (letter runs / digit runs / single
# punctuation), the standard approximation of GPT-2's pre-tokenizer
# split. Deliberately ASCII-class-based so Java regex and DuckDB's
# RE2 agree byte-for-byte.
_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish
    regex pre-tokenization (letter runs, digit runs, punctuation
    singles — the GPT-2 pre-split shape). `chars_per_token` is the
    budget-estimation ratio a training pipeline tracks per corpus
    slice. Pure per-row regexp projection: zero shuffles, scan-bound."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_ws = F.size(norm_tokens(F.col("text")))
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), 0))
    n_chars = F.length(F.col("text"))
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(F.when(n_bpe > 0, n_chars / n_bpe).otherwise(F.lit(0.0)) + 1e-9, 6).alias(
            "chars_per_token"
        ),
    )


TOKEN_COUNT_BPE_SQL = rf"""
SELECT doc_id,
       len({tokens_sql(normalize_sql())}) AS n_ws_tokens,
       len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS n_bpe_tokens,
       round(CASE WHEN len(regexp_extract_all(text, '{_BPE_PATTERN}')) > 0
                  THEN length(text)::DOUBLE / len(regexp_extract_all(text, '{_BPE_PATTERN}'))
                  ELSE 0.0 END + 1e-9, 6) AS chars_per_token
FROM documents
"""

# ---------------------------------------------------------------------------
# doc_fingerprint — md5 + 60-bit integer fingerprint of normalized text
# ---------------------------------------------------------------------------


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint_md5"),
        md5_long(norm).alias("fingerprint_int"),
    )


DOC_FINGERPRINT_SQL = rf"""
SELECT doc_id,
       md5({normalize_sql()}) AS fingerprint_md5,
       {md5_long_sql(normalize_sql())} AS fingerprint_int
FROM documents
"""


# ---------------------------------------------------------------------------
# doc_tfidf_topk — per-document top terms by TF-IDF
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 5


def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per document by TF-IDF. Term frequencies are a
    map-side-combined groupBy; document frequencies aggregate the
    same exploded frame once and join back on term — df is already
    partitioned by term from its own groupBy, so the IDF join reuses
    that partitioning (the vocabulary grows with the corpus, so it
    is never force-broadcast; AQE upgrades at small SF). Raw text is
    scanned exactly once, and the per-doc ranking windows on doc_id
    so sorts stay partition-local. The corpus size rides in as a
    broadcast single-row aggregate (no eager driver-side count, no
    second scan of documents)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = fan_out(docs, "doc_id")
    n_docs_df = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tok = docs.select("doc_id", F.explode(norm_tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    score = F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")) + 1e-9, 6)
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs_df))
        .select("doc_id", "term", "tf", "df", score.alias("tfidf"))
    )
    rank = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    )
    return scored.withColumn("rank", rank).filter(F.col("rank") <= TFIDF_TOP_K)


DOC_TFIDF_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest({norm_tokens_sql()}) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id, tf.term, tf, df,
         round(tf * ln((SELECT count(*) FROM documents)::DOUBLE / df) + 1e-9, 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rank FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""

# ---------------------------------------------------------------------------
# doc_bm25_topk — BM25-scored top terms per document
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per document by BM25 (k1=1.2, b=0.75) — the
    retrieval-grade upgrade of TF-IDF with document-length
    normalization. Same one-scan shape as doc_tfidf_topk: term
    frequencies are one map-side-combined groupBy; doc length and
    document frequency each re-aggregate that frame (no second text
    scan); the df join reuses the term partitioning from its own
    groupBy and the vocabulary is never force-broadcast (it grows
    with the corpus — AQE upgrades at small SF). Corpus constants
    (N, avgdl) ride in as a broadcast 1-row aggregate. All BM25
    inputs (tf, df, dl, N) are exact longs, so the IEEE expression
    is identical in both engines and the 6-dp round is stable."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = fan_out(docs, "doc_id")
    tok = docs.select("doc_id", F.explode(norm_tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    norm = F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    score = F.round(idf * F.col("tf") * (BM25_K1 + 1.0) / norm + 1e-9, 6)
    scored = (
        tf.join(dl, "doc_id")
        .join(df_, "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", "tf", "df", "dl", score.alias("bm25"))
    )
    rank = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("bm25").desc(), F.col("term"))
    )
    return scored.withColumn("rank", rank).filter(F.col("rank") <= TFIDF_TOP_K)


DOC_BM25_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest({norm_tokens_sql()}) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df, dl.dl,
         round(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
               + 1e-9, 6) AS bm25
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN df ON tf.term = df.term
  CROSS JOIN stats
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, dl, bm25, rank FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""

# ---------------------------------------------------------------------------
# corpus_prep_pipeline — the composed training-data prep plan
# ---------------------------------------------------------------------------


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter → exact-dedup → tokenize as ONE declarative
    plan. This is the point of the Spark-first design: the stages
    fuse — quality scoring and hashing happen in the same scan
    projection, the only shuffle is the dedup groupBy on
    (16-byte hash, doc_id), and the survivor set never
    rematerializes between stages."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    score = quality_score_expr()
    scored = docs.select(
        "doc_id",
        F.md5(normalize_text(F.col("text"))).alias("text_hash"),
        F.size(norm_tokens(F.col("text"))).alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), 0)).alias("n_bpe_tokens"),
        score.alias("quality_score"),
    ).filter(score >= 0.5)
    keeper = F.row_number().over(
        Window.partitionBy("text_hash").orderBy("doc_id")
    )
    return (
        scored.withColumn("rn", keeper)
        .filter(F.col("rn") == 1)
        .select("doc_id", "text_hash", "n_tokens", "n_bpe_tokens", "quality_score")
    )


CORPUS_PREP_SQL = rf"""
WITH scored AS (
  SELECT doc_id,
         md5({normalize_sql()}) AS text_hash,
         len({tokens_sql(normalize_sql())}) AS n_tokens,
         len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS n_bpe_tokens,
         {QUALITY_SCORE_SQL} AS quality_score
  FROM documents
),
kept AS (
  SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
  FROM scored WHERE quality_score >= 0.5
)
SELECT doc_id, text_hash, n_tokens, n_bpe_tokens, quality_score
FROM kept WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# ngram_topk — corpus-wide vocabulary / collocation extraction
# ---------------------------------------------------------------------------

NGRAM_TOP_K = 50


def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K corpus bigrams with document frequency — the vocabulary
    building pass of a training pipeline. Map-side partial counts do
    the heavy lifting; the shuffle carries one row per distinct
    bigram, and only the final K-row head is ordered."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = fan_out(docs, "doc_id")
    bigrams = word_shingles(norm_tokens(F.col("text")), 2)
    exploded = docs.select("doc_id", F.explode(bigrams).alias("bigram"))
    return (
        exploded.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("bigram"))
        .limit(NGRAM_TOP_K)
    )


NGRAM_TOPK_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         {norm_tokens_sql()} AS t
  FROM documents
),
bigrams AS (
  SELECT DISTINCT doc_id, b
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                                 i -> t[i] || ' ' || t[i+1])) AS b
    FROM toks
  )
)
SELECT b AS bigram, count(*) AS doc_freq
FROM bigrams
GROUP BY b
ORDER BY doc_freq DESC, bigram
LIMIT {NGRAM_TOP_K}
"""


# ---------------------------------------------------------------------------
# repetition_stats — Gopher-style intra-document repetition signals
# ---------------------------------------------------------------------------


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher/MassiveText
    quality rules adapted to single-line docs): duplicate-token
    ratio, duplicate-bigram ratio, and most-frequent-token share.
    Everything — including the token MODE — is a per-row array op
    with ZERO shuffles: the mode count is the longest run in the
    sorted token array, folded with `F.aggregate` inside whole-stage
    codegen, so no (doc_id, token) explosion ever hits an exchange.
    (The oracle computes the same mode the unnest-and-group way —
    oracle cost is irrelevant, value parity is what's checked.)"""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = norm_tokens(F.col("text"))
    bigrams = word_shingles(tok, 2)
    # longest run in the sorted array == max token multiplicity
    top_count = F.aggregate(
        F.array_sort(tok),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    base = docs.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_distinct"),
        # word_shingles dedups; total bigrams = n_tokens - 1
        F.size(bigrams).alias("n_distinct_bigrams"),
        top_count.alias("top_count"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        F.round(1.0 - F.col("n_distinct") / F.col("n_tokens") + 1e-9, 6).alias("dup_token_ratio"),
        F.round(
            1.0 - F.col("n_distinct_bigrams") / (F.col("n_tokens") - 1) + 1e-9, 6
        ).alias("dup_bigram_ratio"),
        F.round(F.col("top_count") / F.col("n_tokens") + 1e-9, 6).alias("top_token_ratio"),
    )


REPETITION_STATS_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         {tokens_sql(normalize_sql())} AS tok
  FROM documents
),
sizes AS (
  SELECT doc_id, tok,
         len(tok) AS n_tokens,
         len(list_distinct(tok)) AS n_distinct,
         len(list_distinct([tok[i] || ' ' || tok[i+1] FOR i IN range(1, len(tok))])) AS n_distinct_bigrams
  FROM base
),
modes AS (
  SELECT doc_id, max(c) AS top_count
  FROM (
    SELECT doc_id, t, count(*) AS c
    FROM base, unnest(tok) AS u(t)
    GROUP BY doc_id, t
  )
  GROUP BY doc_id
)
SELECT s.doc_id,
       s.n_tokens,
       round(1.0 - s.n_distinct / s.n_tokens + 1e-9, 6)                 AS dup_token_ratio,
       round(1.0 - s.n_distinct_bigrams / (s.n_tokens - 1) + 1e-9, 6)   AS dup_bigram_ratio,
       round(m.top_count / s.n_tokens + 1e-9, 6)                        AS top_token_ratio
FROM sizes s JOIN modes m ON s.doc_id = m.doc_id
"""


# ---------------------------------------------------------------------------
# doc_chunk_windows — RAG-style overlapping chunk fan-out
# ---------------------------------------------------------------------------

CHUNK_LEN = 64  # tokens per chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (16-token overlap)


def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: each document fans out into overlapping
    CHUNK_LEN-token windows every CHUNK_STRIDE tokens (final partial
    chunk kept). Pure per-row explode — the fan-out happens inside
    the scan partition with zero shuffle, so 1000 executors chunk
    1000 shards independently; chunk text is sliced from the token
    array, never re-tokenized."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = norm_tokens(F.col("text"))
    n = F.size(tok)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(CHUNK_LEN)) / F.lit(CHUNK_STRIDE)) + 1
    ).cast("int")
    base = docs.select("doc_id", tok.alias("tok"), n.alias("n_tokens"), n_chunks.alias("n_chunks"))
    idx = F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx")
    start = F.col("chunk_idx") * CHUNK_STRIDE
    clen = F.least(F.lit(CHUNK_LEN), F.col("n_tokens") - start)
    return (
        base.select("doc_id", "tok", "n_tokens", idx)
        .select(
            "doc_id",
            "chunk_idx",
            start.cast("long").alias("start_tok"),
            clen.cast("long").alias("chunk_tokens"),
            F.concat_ws(" ", F.slice(F.col("tok"), start + 1, clen)).alias("chunk_text"),
        )
    )


DOC_CHUNK_WINDOWS_SQL = (
    rf"""
WITH base AS (
  SELECT doc_id,
         {tokens_sql(normalize_sql())} AS tok
  FROM documents
),
sized AS (
  SELECT doc_id, tok, len(tok) AS n_tokens,
         greatest(1, CAST(ceil((len(tok) - CHUNK_LEN) / (CHUNK_STRIDE * 1.0)) AS INTEGER) + 1) AS n_chunks
  FROM base
)
SELECT doc_id,
       i AS chunk_idx,
       CAST(i * CHUNK_STRIDE AS BIGINT) AS start_tok,
       CAST(least(CHUNK_LEN, n_tokens - i * CHUNK_STRIDE) AS BIGINT) AS chunk_tokens,
       array_to_string(tok[i * CHUNK_STRIDE + 1 : i * CHUNK_STRIDE + least(CHUNK_LEN, n_tokens - i * CHUNK_STRIDE)], ' ') AS chunk_text
FROM sized, unnest(range(0, n_chunks)) AS u(i)
""".replace("CHUNK_LEN", str(CHUNK_LEN)).replace("CHUNK_STRIDE", str(CHUNK_STRIDE))
)


# ---------------------------------------------------------------------------
# token_length_histogram — corpus length distribution audit
# ---------------------------------------------------------------------------

HIST_BUCKET_W = 16  # tokens per histogram bucket


def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram per source: fixed-width token-count
    buckets with doc and token totals — the corpus-audit pass that
    sizes a tokenization run. Map-side bucket assignment + one
    partial-agg shuffle of (source, bucket) keys; output cardinality
    is |sources|·|buckets| regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    n = F.size(norm_tokens(F.col("text")))
    bucket = F.floor(n / HIST_BUCKET_W).cast("long")
    return (
        docs.select("source", n.alias("n_tokens"), bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
        .select(
            "source",
            "bucket",
            (F.col("bucket") * HIST_BUCKET_W).alias("bucket_lo"),
            ((F.col("bucket") + 1) * HIST_BUCKET_W - 1).alias("bucket_hi"),
            "n_docs",
            "sum_tokens",
            "min_tokens",
            "max_tokens",
        )
    )


TOKEN_LENGTH_HISTOGRAM_SQL = (
    rf"""
WITH toks AS (
  SELECT source,
         len({tokens_sql(normalize_sql())}) AS n_tokens
  FROM documents
)
SELECT source,
       CAST(n_tokens // BW AS BIGINT)            AS bucket,
       CAST(n_tokens // BW * BW AS BIGINT)       AS bucket_lo,
       CAST((n_tokens // BW + 1) * BW - 1 AS BIGINT) AS bucket_hi,
       CAST(count(*) AS BIGINT)                  AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)             AS sum_tokens,
       CAST(min(n_tokens) AS BIGINT)             AS min_tokens,
       CAST(max(n_tokens) AS BIGINT)             AS max_tokens
FROM toks
GROUP BY source, n_tokens // BW
""".replace("BW", str(HIST_BUCKET_W))
)


# ---------------------------------------------------------------------------
# doc_unigram_logprob — corpus-trained unigram LM quality score
# ---------------------------------------------------------------------------


def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score from a unigram language model trained on the
    corpus itself: each doc's mean log p(token), where p(token) =
    corpus_count(token) / corpus_total. The CCNet/Gopher-style
    "perplexity bucket" signal, exact and self-contained (no external
    LM). Plan shape: one token-count groupBy (map-side combined, the
    vocabulary shuffle), the corpus total rides in as a broadcast
    single-row aggregate (never a driver-side count), and the
    score join on token reuses the vocabulary's own partitioning —
    the vocab grows with the corpus, so it is never force-broadcast
    (AQE upgrades at small SF from real sizes)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = fan_out(docs, "doc_id")
    tok = docs.select("doc_id", F.explode(norm_tokens(F.col("text"))).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("total"))
    return (
        tok.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("c") / F.col("total"))) + 1e-9, 6).alias("avg_logprob"),
        )
    )


DOC_UNIGRAM_LOGPROB_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest({norm_tokens_sql()}) AS token
  FROM documents
),
vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
total AS (SELECT sum(c)::DOUBLE AS total FROM vocab)
SELECT doc_id,
       CAST(count(*) AS BIGINT)                       AS n_tokens,
       round(avg(ln(c / total)) + 1e-9, 6)            AS avg_logprob
FROM tok JOIN vocab USING (token) CROSS JOIN total
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# doc_readability — Automated Readability Index per document
# ---------------------------------------------------------------------------


def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated Readability Index per document (Senter & Smith
    1967): 4.71·(chars/words) + 0.5·(words/sentences) − 21.43,
    clamped at 0 — the grade-level proxy quality filters bucket on
    (alphanumeric chars only, sentences from the shared [.!?] split,
    both floored at 1 so degenerate docs don't divide by zero).
    Entirely map-side — char/word/sentence counts all resolve
    inside the row — so like sentence_stats it's a free rider on
    any corpus scan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    norm = normalize_text(F.col("text"))
    n_chars = F.length(F.regexp_replace(norm, r"[^A-Za-z0-9]", ""))
    n_words = F.greatest(F.size(norm_tokens(F.col("text"))), F.lit(1))
    sents = F.filter(
        F.split(F.col("text"), _SENT_SPLIT), lambda s: F.length(F.trim(s)) > 0
    )
    n_sents = F.greatest(F.size(sents), F.lit(1))
    ari = 4.71 * (n_chars / n_words) + 0.5 * (n_words / n_sents) - 21.43
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_alnum_chars"),
        n_words.cast("long").alias("n_words"),
        n_sents.cast("long").alias("n_sentences"),
        F.round(F.greatest(ari, F.lit(0.0)) + 1e-9, 4).alias("ari_grade"),
    )


DOC_READABILITY_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         length(regexp_replace({normalize_sql()},
                               '[^A-Za-z0-9]', '', 'g')) AS n_chars,
         greatest(len(regexp_split_to_array(
           {normalize_sql()}, '\s+')), 1) AS n_words,
         greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+\s*'),
                                  x -> length(trim(x)) > 0)), 1) AS n_sents
  FROM documents
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_alnum_chars,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sents AS BIGINT) AS n_sentences,
       round(greatest(4.71 * (n_chars * 1.0 / n_words)
                      + 0.5 * (n_words * 1.0 / n_sents) - 21.43, 0.0) + 1e-9, 4)
         AS ari_grade
FROM base
"""


# ---------------------------------------------------------------------------
# doc_char_entropy — character-trigram entropy per document
# ---------------------------------------------------------------------------


def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram Shannon entropy per document (bits): the
    gibberish detector — repetitive boilerplate scores low, natural
    prose sits in a tight band, random noise scores near the
    uniform ceiling — used as a quality gate alongside the
    token-level signals. Trigram extraction is a map-side substring
    explode; the per-(doc, gram) count and the per-doc entropy
    reduction both key on doc_id, so the whole op is one
    doc-partitioned aggregation chain."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = fan_out(docs, "doc_id")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(trim(regexp_replace(lower(text),"
                " '\\\\s+', ' '))) - 2, 0)),"
                " i -> substring(trim(regexp_replace(lower(text), '\\\\s+', ' ')), i, 3))"
            )
        ).alias("g"),
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.log2("c")).alias("clogc"),
    )
    # H = log2(n) − Σ c·log2(c) / n  (algebraic form — one pass)
    return per_doc.select(
        "doc_id",
        F.col("n").cast("long").alias("n_trigrams"),
        F.round(F.log2("n") - F.col("clogc") / F.col("n") + 1e-9, 6).alias(
            "char_entropy_bits"
        ),
    )


DOC_CHAR_ENTROPY_SQL = rf"""
WITH norm AS (
  SELECT doc_id, {normalize_sql()} AS t
  FROM documents
),
grams AS (
  SELECT doc_id, substr(t, CAST(i AS INT), 3) AS g
  FROM norm CROSS JOIN LATERAL unnest(range(1, greatest(length(t) - 2, 0) + 1)) u(i)
),
counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id, sum(c) AS n, sum(c * log2(c)) AS clogc FROM counts GROUP BY 1
)
SELECT doc_id, CAST(n AS BIGINT) AS n_trigrams,
       round(log2(n) - clogc / n + 1e-9, 6) AS char_entropy_bits
FROM per_doc
"""


# ---------------------------------------------------------------------------
# doc_rake_keyphrases — RAKE keyword extraction per document
# ---------------------------------------------------------------------------

RAKE_STOPWORDS = (
    "the a an and or of to in is are was were be been for on with as at by it "
    "this that from not but they we you i he she his her its their our your"
).split()
RAKE_TOP_K = 3


def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) per document:
    candidate phrases are maximal stopword-free token runs;
    word score = deg(w)/freq(w) computed WITHIN the document
    (deg = freq + Σ (phrase_len − 1) over the word's phrases —
    co-occurrence rewards multiword terms); phrase score = Σ word
    scores; top-RAKE_TOP_K phrases per doc with deterministic
    (score desc, phrase) ties. The classic unsupervised
    keyword-tagging pass a corpus catalog runs at ingest.

    Plan shape: tokens posexplode map-side; phrase segmentation is
    one per-doc position window (phrase_id = running stopword
    count); word stats, phrase scores, and the top-k window all key
    on doc_id — embarrassingly parallel across documents, no
    corpus-wide state at all."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = fan_out(docs, "doc_id")
    tok = docs.select(
        "doc_id", F.posexplode(norm_tokens(F.col("text"))).alias("pos", "w")
    )
    stop_arr = F.array(*[F.lit(s) for s in RAKE_STOPWORDS])
    tok = tok.withColumn(
        "is_stop", F.array_contains(stop_arr, F.col("w")).cast("int")
    )
    wseq = Window.partitionBy("doc_id").orderBy("pos")
    tok = tok.withColumn(
        "phrase_id", F.sum("is_stop").over(wseq.rowsBetween(Window.unboundedPreceding, 0))
    ).filter(F.col("is_stop") == 0)
    phrases = tok.groupBy("doc_id", "phrase_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "w"))), lambda x: x["w"]
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    # per-doc word stats: freq + deg over the word's phrases
    word_stats = (
        tok.join(phrases.select("doc_id", "phrase_id", "plen"), ["doc_id", "phrase_id"])
        .groupBy("doc_id", "w")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("plen") - 1).alias("co"),
        )
        .select(
            "doc_id",
            "w",
            ((F.col("freq") + F.col("co")) / F.col("freq")).alias("wscore"),
        )
    )
    phrase_scores = (
        tok.join(word_stats, ["doc_id", "w"])
        .groupBy("doc_id", "phrase_id")
        .agg(F.sum("wscore").alias("score"))
        .join(phrases, ["doc_id", "phrase_id"])
        .select("doc_id", "phrase", F.round(F.col("score") + 1e-9, 4).alias("score"))
    )
    # identical phrases within a doc: keep the max-scoring instance
    dedup = phrase_scores.groupBy("doc_id", "phrase").agg(
        F.max("score").alias("score")
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "phrase")
    )
    return (
        dedup.withColumn("rank", rn)
        .filter(F.col("rank") <= RAKE_TOP_K)
        .select("doc_id", F.col("rank").cast("int").alias("rank"), "phrase", "score")
    )


DOC_RAKE_KEYPHRASES_SQL = (
    rf"""
WITH toks AS (
  SELECT doc_id,
         {norm_tokens_sql()} AS t
  FROM documents
),
pos AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS w
  FROM toks CROSS JOIN LATERAL unnest(range(1, len(t) + 1)) u(i)
),
flagged AS (
  SELECT doc_id, pos, w,
         CASE WHEN list_contains([STOPLIST], w) THEN 1 ELSE 0 END AS is_stop
  FROM pos
),
seg AS (
  SELECT doc_id, pos, w, is_stop,
         sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS phrase_id
  FROM flagged
),
content AS (SELECT doc_id, phrase_id, pos, w FROM seg WHERE is_stop = 0),
phrases AS (
  SELECT doc_id, phrase_id,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         count(*) AS plen
  FROM content GROUP BY 1, 2
),
word_stats AS (
  SELECT c.doc_id, c.w,
         (count(*) + sum(p.plen - 1)) * 1.0 / count(*) AS wscore
  FROM content c JOIN phrases p USING (doc_id, phrase_id)
  GROUP BY 1, 2
),
phrase_scores AS (
  SELECT c.doc_id, c.phrase_id, sum(ws.wscore) AS score
  FROM content c JOIN word_stats ws ON ws.doc_id = c.doc_id AND ws.w = c.w
  GROUP BY 1, 2
),
dedup AS (
  SELECT ps.doc_id, p.phrase, max(round(ps.score + 1e-9, 4)) AS score
  FROM phrase_scores ps JOIN phrases p USING (doc_id, phrase_id)
  GROUP BY 1, 2
),
ranked AS (
  SELECT doc_id, phrase, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, phrase) AS rank
  FROM dedup
)
SELECT doc_id, CAST(rank AS INT) AS rank, phrase, score
FROM ranked WHERE rank <= TOPK
""".replace("STOPLIST", ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)).replace(
        "TOPK", str(RAKE_TOP_K)
    )
)


# ---------------------------------------------------------------------------
# sentence_stats — sentence-level shape signals per document
# ---------------------------------------------------------------------------

_SENT_SPLIT = r"[.!?]+\s*"


def sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level shape of each document: sentence count, mean
    and max tokens per sentence — the signals Gopher-class quality
    filters threshold on (too-few sentences ⇒ list/boilerplate,
    huge max ⇒ unpunctuated dump). Entirely map-side: the sentence
    split, per-sentence token counts, and the reductions all run
    inside each row's arrays — zero shuffles before the scan-local
    projection, so this is a free rider on any corpus pass."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sents = F.filter(
        F.split(F.col("text"), _SENT_SPLIT), lambda s: F.length(F.trim(s)) > 0
    )
    tok_counts = F.transform(sents, lambda s: F.size(F.split(F.trim(s), r"\s+")))
    n_sent = F.size(sents)
    total_toks = F.aggregate(tok_counts, F.lit(0), lambda a, x: a + x)
    return docs.select(
        "doc_id",
        n_sent.cast("long").alias("n_sentences"),
        F.round(
            F.when(n_sent > 0, total_toks / n_sent).otherwise(F.lit(0.0)) + 1e-9, 4
        ).alias("avg_sentence_tokens"),
        F.coalesce(F.array_max(tok_counts), F.lit(0)).cast("long").alias(
            "max_sentence_tokens"
        ),
    )


SENTENCE_STATS_SQL = r"""
WITH s AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[.!?]+\s*'),
                     x -> length(trim(x)) > 0) AS sents
  FROM documents
),
t AS (
  SELECT doc_id, sents,
         list_transform(sents, x -> len(regexp_split_to_array(trim(x), '\s+'))) AS tc
  FROM s
)
SELECT doc_id,
       CAST(len(sents) AS BIGINT) AS n_sentences,
       round(CASE WHEN len(sents) > 0
                  THEN list_sum(tc) * 1.0 / len(sents) ELSE 0.0 END + 1e-9, 4)
         AS avg_sentence_tokens,
       CAST(coalesce(list_max(tc), 0) AS BIGINT) AS max_sentence_tokens
FROM t
"""


# ---------------------------------------------------------------------------
# source_unigram_divergence — JS divergence of each source vs the corpus
# ---------------------------------------------------------------------------

JS_VOCAB_V = 500


def source_unigram_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How far each source's language drifts from the corpus:
    Jensen-Shannon divergence (bits) between the source's unigram
    distribution and the corpus distribution, both restricted to
    the top-JS_VOCAB_V corpus tokens and renormalized there — the
    distribution-shift number that flags a source as
    out-of-domain before it skews a training mix. JS is symmetric
    and bounded [0,1] bit, and zero-probability source tokens are
    handled natively (0·log term vanishes, mixture M stays > 0).

    Plan shape: one corpus-scale token-count shuffle; the top-V
    vocab is a TakeOrderedAndProject (never a global sort) and
    broadcasts to gate the per-(source, token) count; everything
    after runs on ≤ |sources|·V rows."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    docs = fan_out(docs, "source")
    tok = docs.select("source", F.explode(norm_tokens(F.col("text"))).alias("token"))
    corpus_counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    top = corpus_counts.orderBy(F.col("c").desc(), "token").limit(JS_VOCAB_V)
    corpus_total = top.agg(F.sum("c").cast("double").alias("ct"))
    src_counts = (
        tok.join(F.broadcast(top.select("token")), "token")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("sc"))
    )
    src_total = src_counts.groupBy("source").agg(
        F.sum("sc").cast("double").alias("st")
    )
    # Tokens absent from a source contribute only their q-side term;
    # fan the corpus vocab out per source so the sum is complete:
    # JS = 0.5·Σ p·log2(p/m) + 0.5·Σ q·log2(q/m) with m = (p+q)/2,
    # where a missing source token means p = 0.
    all_pairs = (
        src_total.crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(corpus_total))
        .select("source", "token", (F.col("c") / F.col("ct")).alias("q"))
        .join(
            src_counts.join(src_total, "source").select(
                "source", "token", (F.col("sc") / F.col("st")).alias("p")
            ),
            ["source", "token"],
            "left",
        )
        .select("source", F.coalesce("p", F.lit(0.0)).alias("p"), "q")
    )
    m = (F.col("p") + F.col("q")) / 2
    term = F.when(F.col("p") > 0, F.col("p") * F.log2(F.col("p") / m)).otherwise(
        F.lit(0.0)
    ) + F.col("q") * F.log2(F.col("q") / m)
    return all_pairs.groupBy("source").agg(
        F.sum((F.col("p") > 0).cast("long")).alias("n_vocab_present"),
        F.round(0.5 * F.sum(term) + 1e-9, 6).alias("js_divergence_bits"),
    )


SOURCE_UNIGRAM_DIVERGENCE_SQL = (
    rf"""
WITH tok AS (
  SELECT source,
         unnest({norm_tokens_sql()}) AS token
  FROM documents
),
corpus_counts AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
top AS (SELECT token, c FROM corpus_counts ORDER BY c DESC, token LIMIT TOPV),
ct AS (SELECT sum(c)::DOUBLE AS ct FROM top),
src_counts AS (
  SELECT source, t.token, count(*) AS sc
  FROM tok t JOIN top USING (token)
  GROUP BY 1, 2
),
src_total AS (SELECT source, sum(sc)::DOUBLE AS st FROM src_counts GROUP BY 1),
all_pairs AS (
  SELECT s.source, top.token,
         coalesce(sc.sc / s.st, 0.0) AS p,
         top.c / ct.ct AS q
  FROM src_total s
  CROSS JOIN top
  CROSS JOIN ct
  LEFT JOIN src_counts sc ON sc.source = s.source AND sc.token = top.token
)
SELECT source,
       CAST(sum(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab_present,
       round(0.5 * sum(
         (CASE WHEN p > 0 THEN p * log2(p / ((p + q) / 2)) ELSE 0.0 END)
         + q * log2(q / ((p + q) / 2))
       ) + 1e-9, 6) AS js_divergence_bits
FROM all_pairs
GROUP BY source
""".replace("TOPV", str(JS_VOCAB_V))
)


# ---------------------------------------------------------------------------
# doc_bigram_logprob — bigram LM quality scoring
# ---------------------------------------------------------------------------


def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score from a corpus-trained BIGRAM language model:
    each doc's mean log p(w₂|w₁), with p = count(w₁w₂)/count(w₁·)
    by MLE — the Markov upgrade of `doc_unigram_logprob` that
    actually penalizes scrambled or boilerplate-stitched text a
    unigram model scores as fluent. Every scored bigram is in the
    training corpus by construction, so MLE needs no smoothing.

    Plan shape: bigrams come from the SAME map-side 2-gram
    transform the shingle pipeline uses (no window, no self-join —
    adjacency is resolved inside the row's token array); two
    vocabulary-scale groupBys (bigram counts, left-context counts)
    and the score join reuse the bigram-keyed exchange. Docs with
    fewer than 2 tokens have no bigrams and are (documentedly) not
    in the output."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = fan_out(docs, "doc_id")
    # ALL bigram occurrences (multiplicity matters for an LM — the
    # shingle builder's array_distinct would undercount): zip the
    # token array with its own 1-shifted copy, map-side.
    tok = norm_tokens(F.col("text"))
    shifted = F.slice(tok, 2, F.greatest(F.lit(0), F.size(tok) - 1))
    bigrams = F.when(
        F.size(tok) >= 2,
        F.slice(
            F.zip_with(tok, shifted, lambda x, y: F.concat_ws(" ", x, y)),
            1,
            F.greatest(F.lit(0), F.size(tok) - 1),
        ),
    ).otherwise(F.array().cast("array<string>"))
    big = docs.select("doc_id", F.explode(bigrams).alias("bg"))
    cb = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    cl = (
        big.select(F.split(F.col("bg"), " ").getItem(0).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c_w1"))
    )
    scored = (
        big.join(cb, "bg")
        .withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .join(cl, "w1")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg(F.log(F.col("c_bg") / F.col("c_w1"))) + 1e-9, 6).alias(
            "avg_logprob"
        ),
    )


DOC_BIGRAM_LOGPROB_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         {norm_tokens_sql()} AS t
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                               i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks
),
cb AS (SELECT bg, count(*) AS c_bg FROM bg GROUP BY 1),
cl AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c_w1 FROM bg GROUP BY 1)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln(cb.c_bg * 1.0 / cl.c_w1)) + 1e-9, 6) AS avg_logprob
FROM bg b
JOIN cb USING (bg)
JOIN cl ON split_part(b.bg, ' ', 1) = cl.w1
GROUP BY b.doc_id
"""


# ---------------------------------------------------------------------------
# vocab_topk — frequency-ranked tokenizer vocabulary induction
# ---------------------------------------------------------------------------

VOCAB_TOP_V = 1000


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary induction: the top-V corpus tokens with
    dense ids assigned by (count DESC, token) — the deterministic
    frequency-rank id assignment every BPE/WordPiece trainer starts
    from. The count groupBy is the only data-scale shuffle;
    orderBy+limit plans as TakeOrderedAndProject (per-partition
    top-V then a V-row merge — no global sort), and the id window
    runs over the already-limited V rows, so its single-partition
    sort is O(V) regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    tok = docs.select(F.explode(norm_tokens(F.col("text"))).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), "token").limit(VOCAB_TOP_V)
    rank = F.row_number().over(Window.orderBy(F.col("cnt").desc(), "token"))
    return top.withColumn("token_id", rank).select("token_id", "token", "cnt")


VOCAB_TOPK_SQL = (
    rf"""
WITH tok AS (
  SELECT unnest({norm_tokens_sql()}) AS token
  FROM documents
),
counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1)
SELECT row_number() OVER (ORDER BY cnt DESC, token) AS token_id,
       token,
       CAST(cnt AS BIGINT) AS cnt
FROM counts
ORDER BY cnt DESC, token
LIMIT TOPV
""".replace("TOPV", str(VOCAB_TOP_V))
)

# ---------------------------------------------------------------------------
# pmi_bigrams — collocation mining by pointwise mutual information
# ---------------------------------------------------------------------------

PMI_TOP_K = 50
PMI_MIN_COUNT = 5


def pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by PMI over adjacent whitespace-token pairs.

    A corpus-linguistics staple (and a boilerplate detector: sky-high
    PMI pairs in a web crawl are usually template fragments). All
    occurrences count — bigram instances come from zipping the token
    array against its shift (one per-row JVM pass, no index probing),
    unigram totals from one explode. The bigram→unigram joins key on
    the word itself: vocab-scale frames are shuffle-joined, never
    hint-broadcast (vocab grows with the corpus). PMI is computed as
    a single log of one rational so both engines evaluate the same
    float expression shape. Two vocab-keyed shuffles + one global
    top-k (TakeOrderedAndProject) — no all-pairs anything."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = norm_tokens(F.col("text"))
    shifted = F.slice(tok, 2, F.greatest(F.lit(0), F.size(tok) - 1))
    pairs = F.slice(
        F.zip_with(tok, shifted, lambda x, y: F.struct(x.alias("x"), y.alias("y"))),
        1,
        F.greatest(F.lit(0), F.size(tok) - 1),
    )
    bigrams = docs.select(F.explode(pairs).alias("p")).select("p.x", "p.y")
    big_counts = bigrams.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    unigrams = docs.select(F.explode(tok).alias("w"))
    uni_counts = unigrams.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    totals = unigrams.agg(
        F.count(F.lit(1)).alias("n_tok"),
    ).crossJoin(F.broadcast(bigrams.agg(F.count(F.lit(1)).alias("n_big"))))
    scored = (
        big_counts.filter(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(uni_counts.select(F.col("w").alias("x"), F.col("c_w").alias("c_x")), "x")
        .join(uni_counts.select(F.col("w").alias("y"), F.col("c_w").alias("c_y")), "y")
        .crossJoin(F.broadcast(totals))
        .select(
            F.concat_ws(" ", "x", "y").alias("bigram"),
            "c_xy",
            "c_x",
            "c_y",
            F.round(
                F.log(
                    (F.col("c_xy").cast("double") * F.col("n_tok") * F.col("n_tok"))
                    / (F.col("n_big").cast("double") * F.col("c_x") * F.col("c_y"))
                )
                + 1e-9,
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), F.col("bigram")).limit(PMI_TOP_K)


PMI_BIGRAMS_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         {norm_tokens_sql()} AS t
  FROM documents
),
bigrams AS (
  SELECT u.x AS x, u.y AS y
  FROM base,
       unnest(list_transform(range(1, len(t)), i -> {{'x': t[i], 'y': t[i + 1]}})) AS bp(u)
),
big_counts AS (SELECT x, y, count(*) AS c_xy FROM bigrams GROUP BY 1, 2),
unigrams AS (SELECT unnest(t) AS w FROM base),
uni_counts AS (SELECT w, count(*) AS c_w FROM unigrams GROUP BY 1),
totals AS (
  SELECT (SELECT count(*) FROM unigrams) AS n_tok,
         (SELECT count(*) FROM bigrams)  AS n_big
)
SELECT x || ' ' || y AS bigram, c_xy, cx.c_w AS c_x, cy.c_w AS c_y,
       round(ln((c_xy::DOUBLE * n_tok * n_tok) / (n_big::DOUBLE * cx.c_w * cy.c_w)) + 1e-9, 6) AS pmi
FROM big_counts
JOIN uni_counts cx ON big_counts.x = cx.w
JOIN uni_counts cy ON big_counts.y = cy.w
CROSS JOIN totals
WHERE c_xy >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, bigram
LIMIT {PMI_TOP_K}
"""


# ---------------------------------------------------------------------------
# token_fertility — per-language tokenizer budget ratios
# ---------------------------------------------------------------------------


def token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-fertility table: chars per BPE-ish
    token and BPE tokens per whitespace word. The numbers a
    multilingual pretraining run uses to convert byte budgets into
    token budgets per language slice. One map-side projection (two
    regex counts per row) + one 5-group aggregate — scan-bound."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text", "n_chars")
    n_ws = F.size(norm_tokens(F.col("text")))
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), 0))
    per_doc = docs.select("lang", "n_chars", n_ws.alias("n_ws"), n_bpe.alias("n_bpe"))
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_ws").alias("total_words"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_chars",
        "total_words",
        "total_bpe_tokens",
        F.round(F.col("total_chars").cast("double") / F.col("total_bpe_tokens") + 1e-9, 6).alias(
            "chars_per_token"
        ),
        F.round(F.col("total_bpe_tokens").cast("double") / F.col("total_words") + 1e-9, 6).alias(
            "fertility"
        ),
    )


TOKEN_FERTILITY_SQL = rf"""
WITH per_doc AS (
  SELECT lang, n_chars,
         len({norm_tokens_sql()}) AS n_ws,
         len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS n_bpe
  FROM documents
),
agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(n_ws) AS BIGINT)    AS total_words,
         CAST(sum(n_bpe) AS BIGINT)   AS total_bpe_tokens
  FROM per_doc GROUP BY 1
)
SELECT lang, n_docs, total_chars, total_words, total_bpe_tokens,
       round(total_chars::DOUBLE / total_bpe_tokens + 1e-9, 6) AS chars_per_token,
       round(total_bpe_tokens::DOUBLE / total_words + 1e-9, 6) AS fertility
FROM agg
"""


# ---------------------------------------------------------------------------
# oov_rate_by_source — vocabulary coverage audit per corpus slice
# ---------------------------------------------------------------------------

OOV_VOCAB_V = 16


def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the top-V
    frequency-rank vocabulary (the vocab_topk induction with a
    V that actually excludes tail tokens on this corpus) — the
    coverage audit run before freezing a tokenizer: a source with a
    high OOV rate will fragment into bytes at training time.

    Scale design: vocab is a V-row frame but joins WITHOUT a
    broadcast hint (house rule: vocabulary scales with config, AQE
    upgrades it from runtime stats); token instances join on the
    token key and collapse map-side to |sources| rows."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    tok = docs.select("source", F.explode(norm_tokens(F.col("text"))).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(OOV_VOCAB_V)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    joined = tok.join(vocab, "token", "left")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("in_vocab").isNull(), 1.0).otherwise(0.0)) / F.count(F.lit(1))
            + 1e-9,
            6,
        ).alias("oov_rate"),
    )


OOV_RATE_BY_SOURCE_SQL = rf"""
WITH tok AS (
  SELECT source,
         unnest({norm_tokens_sql()}) AS token
  FROM documents
),
vocab AS (
  SELECT token FROM (SELECT token, count(*) AS cnt FROM tok GROUP BY 1)
  ORDER BY cnt DESC, token LIMIT {OOV_VOCAB_V}
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.token IS NULL THEN 1.0 ELSE 0.0 END) / count(*) + 1e-9, 6) AS oov_rate
FROM tok LEFT JOIN vocab v USING (token)
GROUP BY source
"""


# ---------------------------------------------------------------------------
# bpe_train_merges — distributed BPE tokenizer training (first K merges)
# ---------------------------------------------------------------------------

BPE_MERGES = 10
# Symbols are joined with a DOUBLE separator and the string is
# wrapped in one: "||a||b||c||". A pair merge is then ONE literal
# replace of "|a||b|" with "|ab|" — because each match consumes
# only the INNER separator of each boundary, the scanner's
# continue-after-match position still sees the next occurrence,
# which makes plain replace() exactly canonical left-to-right
# greedy BPE (verified: "a b a b"→"ab ab", "a a a"→"aa a", and no
# cross-symbol false match on "xa|b"). Contract: symbols must not
# contain '|' (the corpus is [a-z]; a production run would use
# U+001F).
_BPE_SEP = "|"


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first K merge rules of a BPE tokenizer (Sennrich
    et al. 2016, arXiv:1508.07909) over the corpus, distributed:

    1. one corpus-scale shuffle builds the word vocabulary with
       counts (BPE trains on |vocab| weighted types, never raw
       tokens — the standard trick that makes iteration cheap);
    2. each of the K rounds counts adjacent symbol pairs weighted
       by word count (map-side-combined groupBy over exploded
       pairs) and collects ONLY the argmax pair to the driver
       (scalar-only driver state, the kmeans/PageRank pattern);
    3. each merge applies as one literal string replace on the
       double-separator encoding (pure JVM codegen — no UDF, no
       fold): round k's symbol sequences are the ONE persisted
       word-count table with k chained literal replaces
       (`_bpe_seq_expr`), so no intermediate round's frame is ever
       persisted or counted (r12).

    Ties break to the lexicographically smallest (left, right)
    pair; all counts are exact integers, so the merge table is
    bit-stable cross-engine. Returns (merge_rank, left, right,
    pair_count)."""
    merges, _vocab = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        [(i + 1, left, right, cnt) for i, (left, right, cnt) in enumerate(merges)],
        schema="merge_rank int, merge_left string, merge_right string, pair_count long",
    )


# Trained merge-table memo (r12): the K-round argmax loop is
# deterministic (exact integer counts, lexicographic tie-breaks), so
# its result — K (left, right, count) triples, pure driver scalars —
# is memoized per sf_dir exactly like the k-means centroid and
# logreg weight memos: `bpe_train_merges` and `bpe_segment_stats`
# each replayed the full loop per session. Contract: sf_dir contents
# are immutable for the process lifetime.
_BPE_MERGES_MEMO = Memo()


def _bpe_seq_expr(merges: list[tuple[str, str, int]]) -> F.Column:
    """The double-separator symbol sequence after applying `merges`
    in order: the initial per-character encoding with each merge as
    ONE chained literal replace — a pure codegen projection, so the
    post-merge vocab is derivable from the word table without
    persisting any intermediate round's frame."""
    sep2 = _BPE_SEP * 2
    seq = F.concat(F.lit(sep2), F.regexp_replace(F.col("word"), "(.)", "$1" + sep2))
    for left, right, _cnt in merges:
        pat = f"{_BPE_SEP}{left}{sep2}{right}{_BPE_SEP}"
        rep = f"{_BPE_SEP}{left}{right}{_BPE_SEP}"
        seq = F.call_function("replace", seq, F.lit(pat), F.lit(rep))
    return seq


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the K-round trainer; returns (merges, final vocab frame
    of (word, cnt, seq)). r12 rework, guide §1.2/§5: round k's
    symbol sequences are the word table with k chained literal
    replaces — a codegen projection over ONE persisted word-count
    frame — so the loop no longer persists + eagerly counts a new
    vocab frame per round (2 jobs/round → 1), and the final vocab
    is a lazy projection instead of a K-th materialized copy. The
    merge table itself is memoized per sf_dir (deterministic loop,
    scalar-only driver state), so the train and encode queries
    share one training run per session."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = (
        docs.select(F.explode(norm_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    def train() -> list[tuple[str, str, int]]:
        track(words)  # persisted across the K argmax rounds
        merges = []
        for _ in range(BPE_MERGES):
            # split yields ['', s1..sm, '']; adjacent pairs are
            # (arr[i], arr[i+1]) for 0-based i in 1..m-1. For m=1
            # Spark's sequence(2, 1) runs DESCENDING, producing
            # junk pairs that always carry '' on one side — the
            # two-sided empty filter drops them.
            syms = words.select(
                "cnt", F.split(_bpe_seq_expr(merges), r"\|\|").alias("s")
            )
            pairs = syms.select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(2, greatest(size(s) - 2, 1)), "
                        "i -> struct(s[i - 1] AS l, s[i] AS r))"
                    )
                ).alias("p"),
            ).filter((F.col("p.l") != "") & (F.col("p.r") != ""))
            top = (
                pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("cnt").alias("pair_count"))
                .orderBy(F.col("pair_count").desc(), "l", "r")
                .limit(1)
                .collect()
            )
            if not top:
                break
            merges.append((top[0]["l"], top[0]["r"], int(top[0]["pair_count"])))
        return merges

    merges = _BPE_MERGES_MEMO.get_or_build(spark, sf_dir, train)
    vocab = words.select("word", "cnt", _bpe_seq_expr(merges).alias("seq"))
    return merges, vocab




def _bpe_sql() -> str:
    """K chained CTE rounds replaying the identical train loop:
    pairs_k counts from vocab_{k-1}, merge_k is the argmax row,
    vocab_k applies the replace via a cross join on the 1-row
    merge frame."""
    parts = [
        rf"""tok AS (
  SELECT unnest({norm_tokens_sql()}) AS word
  FROM documents
),
words AS (SELECT word, count(*) AS cnt FROM tok GROUP BY 1),
vocab0 AS (
  SELECT word, cnt, '||' || regexp_replace(word, '(.)', '\1||', 'g') AS seq
  FROM words
)"""
    ]
    for k in range(1, BPE_MERGES + 1):
        parts.append(
            f"""pairs{k} AS (
  SELECT u.l, u.r, CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM (
    SELECT cnt, s[i] AS l, s[i + 1] AS r
    FROM (SELECT cnt, string_split(seq, '||') AS s FROM vocab{k - 1}),
         LATERAL (SELECT unnest(range(2, greatest(len(s) - 1, 2))) AS i)
  ) u
  WHERE u.l != '' AND u.r != ''
  GROUP BY 1, 2
),
merge{k} AS (
  SELECT {k} AS merge_rank, l, r, pair_count
  FROM pairs{k}
  ORDER BY pair_count DESC, l, r
  LIMIT 1
),
vocab{k} AS (
  SELECT v.word, v.cnt,
         replace(v.seq, '|' || m.l || '||' || m.r || '|', '|' || m.l || m.r || '|') AS seq
  FROM vocab{k - 1} v CROSS JOIN merge{k} m
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT merge_rank, l AS merge_left, r AS merge_right, pair_count FROM merge{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + unions


BPE_TRAIN_MERGES_SQL = _bpe_sql()


# ---------------------------------------------------------------------------
# bpe_segment_stats — the encode side: per-source fertility after K merges
# ---------------------------------------------------------------------------


def bpe_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained merge table (the encode step) and report
    per-source segmentation quality: weighted subwords-per-word
    (fertility) and the share of tokens that became a single
    subword after K merges. The trained vocab frame (word → final
    symbol sequence) joins the per-source word counts on the word
    key — a token-keyed shuffle, vocab never broadcast-hinted
    (it scales with the corpus); everything collapses map-side to
    |sources| rows."""
    _merges, vocab = _bpe_train(spark, sf_dir)
    tpw = vocab.select(
        "word", (F.size(F.split(F.col("seq"), r"\|\|")) - 2).alias("n_subwords")
    )
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    src_words = (
        docs.select("source", F.explode(norm_tokens(F.col("text"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    joined = src_words.join(tpw, "word")
    return (
        joined.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.round(F.sum(F.col("cnt") * F.col("n_subwords")) / F.sum("cnt") + 1e-9, 6).alias(
                "fertility"
            ),
            F.round(
                F.sum(F.when(F.col("n_subwords") == 1, F.col("cnt")).otherwise(F.lit(0)))
                / F.sum("cnt")
                + 1e-9,
                6,
            ).alias("single_subword_rate"),
        )
    )


def _bpe_segment_sql() -> str:
    base = _bpe_sql()
    # reuse the full training chain up to vocabK (everything before
    # the merge-table union — no CTE line starts with this marker),
    # then aggregate per-source fertility instead
    chain = base.split("\nSELECT merge_rank")[0]
    k = BPE_MERGES
    return (
        chain
        + f""",
tpw AS (
  SELECT word, len(string_split(seq, '||')) - 2 AS n_subwords
  FROM vocab{k}
),
src_words AS (
  SELECT source, word, count(*) AS cnt
  FROM (
    SELECT source,
           unnest({norm_tokens_sql()}) AS word
    FROM documents
  )
  GROUP BY 1, 2
)
SELECT source,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct_words,
       round(sum(cnt * n_subwords)::DOUBLE / sum(cnt) + 1e-9, 6) AS fertility,
       round(sum(CASE WHEN n_subwords = 1 THEN cnt ELSE 0 END)::DOUBLE / sum(cnt) + 1e-9, 6)
         AS single_subword_rate
FROM src_words JOIN tpw USING (word)
GROUP BY 1
"""
    )


BPE_SEGMENT_STATS_SQL = _bpe_segment_sql()


# ---------------------------------------------------------------------------
# vocab_coverage_curve — cumulative corpus coverage of a top-k vocab
# ---------------------------------------------------------------------------

COVERAGE_KS = [64, 256, 1024, 4096]


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer sizing curve: what fraction of the corpus token
    mass a top-k frequency vocabulary covers, at the k checkpoints a
    vocab-size decision actually compares (the Zipf integral made
    concrete). One corpus-scale shuffle (token counts with map-side
    combine); the rank window and the ≤k broadcast-nested-loop join
    then run on the vocab-sized frame — |vocab| rows, not corpus
    rows — so the single-partition rank sort is bounded by distinct
    tokens, the same exemption vocab_topk documents."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    tok = docs.select(F.explode(norm_tokens(F.col("text"))).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("long").alias("total_tokens"))
    ranked = counts.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("cnt").desc(), "token"))
    )
    ks = spark.createDataFrame([(k,) for k in COVERAGE_KS], "k int")
    cov = (
        ranked.join(F.broadcast(ks), F.col("rank") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("cnt").cast("long").alias("covered_tokens"))
    )
    return cov.crossJoin(F.broadcast(total)).select(
        "k",
        "covered_tokens",
        "total_tokens",
        F.round(F.col("covered_tokens") / F.col("total_tokens") + 1e-9, 6).alias("coverage"),
    )


VOCAB_COVERAGE_CURVE_SQL = (
    rf"""
WITH tok AS (
  SELECT unnest({norm_tokens_sql()}) AS token
  FROM documents
),
counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM counts
),
total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM counts),
ks AS (SELECT unnest([KS_LIST]) AS k)
SELECT CAST(ks.k AS INT) AS k,
       CAST(sum(r.cnt) AS BIGINT) AS covered_tokens,
       t.total_tokens,
       round(sum(r.cnt) * 1.0 / t.total_tokens + 1e-9, 6) AS coverage
FROM ks JOIN ranked r ON r.rank <= ks.k
CROSS JOIN total t
GROUP BY ks.k, t.total_tokens
""".replace("KS_LIST", ", ".join(str(k) for k in COVERAGE_KS))
)

# ---------------------------------------------------------------------------
# vocab_heaps_law — vocabulary growth exponent over ingest-order prefixes
# ---------------------------------------------------------------------------

HEAPS_CHECKPOINTS = 16  # ingest-order prefix fractions measured


def vocab_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth law fit: distinct-type count V versus
    cumulative token count N over ingest-order corpus prefixes,
    with the fitted Heaps exponent β from ln V = ln k + β·ln N
    (Heaps 1978; natural corpora sit near β ≈ 0.4–0.6). The
    companion to `vocab_coverage_curve`: coverage prices a vocab
    size on TODAY'S corpus, while β forecasts how fast the type
    inventory keeps growing as the crawl scales 10–100×, which is
    what actually sizes a tokenizer (and OOV budgets, see
    `oov_rate_by_source`) for a 100 TB ingest. A β far above ~0.6
    flags an unbounded-identifier corpus (serial numbers, hashes)
    where a frequency vocab will never saturate.

    Scale design: prefixes are measured at HEAPS_CHECKPOINTS fixed
    doc_id thresholds, NOT with a cumulative window — the per-doc
    token counts (|docs| rows) and the token first-occurrence frame
    (|vocab| rows, one min-combined shuffle) each fan out ×16
    map-side against the broadcast 1-row max(doc_id) scalar and
    partially aggregate to ≤16 rows per partition, so no
    single-partition pass ever sees corpus-scale rows. The OLS fit
    runs on the 16-point frame (regr_slope/regr_r2, the
    `word_zipf_slope` pattern) and rides back as a broadcast 1-row
    frame."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(norm_tokens(F.col("text"))).alias("token"))
    per_doc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    first_occ = tok.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    maxid = docs.agg(F.max("doc_id").alias("max_id"))

    def fan(frame: DataFrame, at_col: str, contrib: F.Column) -> DataFrame:
        thr = lambda i: F.floor(F.col("max_id") * i / HEAPS_CHECKPOINTS)  # noqa: E731
        stacked = frame.crossJoin(F.broadcast(maxid)).select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).cast("int").alias("ckpt"),
                            thr(i).cast("long").alias("thr_doc_id"),
                            F.when(F.col(at_col) <= thr(i), contrib)
                            .otherwise(F.lit(0))
                            .cast("long")
                            .alias("contrib"),
                        )
                        for i in range(1, HEAPS_CHECKPOINTS + 1)
                    ]
                )
            ).alias("r")
        ).select("r.*")
        return stacked.groupBy("ckpt").agg(
            F.max("thr_doc_id").alias("thr_doc_id"),
            F.sum("contrib").alias("contrib"),
        )

    toks16 = fan(per_doc, "doc_id", F.col("n_tok")).withColumnRenamed("contrib", "n_tokens")
    voc16 = (
        fan(first_occ, "first_doc", F.lit(1))
        .withColumnRenamed("contrib", "n_vocab")
        .drop("thr_doc_id")
    )
    pts = toks16.join(voc16, "ckpt")
    # Degenerate guard: a closed vocabulary (n_vocab constant across
    # every checkpoint) zeroes var(y), where regr_r2 is 0/0 and the
    # engines disagree (Spark 1.0, DuckDB ~0). The constant model IS
    # a perfect fit, so pin r² := 1.0 on an EXACT integer test
    # (min == max of the BIGINT counts), never a float-variance one.
    fit = pts.filter((F.col("n_tokens") > 0) & (F.col("n_vocab") > 0)).agg(
        F.round(F.expr("regr_slope(ln(n_vocab), ln(n_tokens))") + 1e-9, 6).alias("heaps_beta"),
        F.when(F.min("n_vocab") == F.max("n_vocab"), F.lit(1.0))
        .otherwise(F.round(F.expr("regr_r2(ln(n_vocab), ln(n_tokens))") + 1e-9, 6))
        .alias("heaps_r2"),
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        "ckpt",
        "thr_doc_id",
        "n_tokens",
        "n_vocab",
        F.round(F.col("n_vocab") / F.col("n_tokens") + 1e-9, 6).alias("type_token_ratio"),
        "heaps_beta",
        "heaps_r2",
    )


VOCAB_HEAPS_LAW_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest({norm_tokens_sql()}) AS token
  FROM documents
),
per_doc AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1),
first_occ AS (SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY 1),
maxid AS (SELECT max(doc_id) AS max_id FROM documents),
cks AS (
  SELECT t.i::INT AS ckpt,
         CAST(floor(m.max_id * t.i / {HEAPS_CHECKPOINTS}) AS BIGINT) AS thr_doc_id
  FROM range(1, {HEAPS_CHECKPOINTS + 1}) t(i) CROSS JOIN maxid m
),
toks16 AS (
  SELECT c.ckpt, c.thr_doc_id,
         CAST(sum(CASE WHEN d.doc_id <= c.thr_doc_id THEN d.n_tok ELSE 0 END) AS BIGINT) AS n_tokens
  FROM cks c CROSS JOIN per_doc d
  GROUP BY 1, 2
),
voc16 AS (
  SELECT c.ckpt,
         CAST(sum(CASE WHEN f.first_doc <= c.thr_doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab
  FROM cks c CROSS JOIN first_occ f
  GROUP BY 1
),
pts AS (
  SELECT t.ckpt, t.thr_doc_id, t.n_tokens, v.n_vocab
  FROM toks16 t JOIN voc16 v USING (ckpt)
),
fit AS (
  SELECT round(regr_slope(ln(n_vocab), ln(n_tokens)) + 1e-9, 6) AS heaps_beta,
         CASE WHEN min(n_vocab) = max(n_vocab) THEN 1.0
              ELSE round(regr_r2(ln(n_vocab), ln(n_tokens)) + 1e-9, 6)
         END AS heaps_r2
  FROM pts WHERE n_tokens > 0 AND n_vocab > 0
)
SELECT ckpt, thr_doc_id, n_tokens, n_vocab,
       round(n_vocab * 1.0 / n_tokens + 1e-9, 6) AS type_token_ratio,
       f.heaps_beta, f.heaps_r2
FROM pts CROSS JOIN fit f
"""

# ---------------------------------------------------------------------------
# source_language_profile — lang mix + entropy per source
# ---------------------------------------------------------------------------


def source_language_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix audit at (source, lang) grain: doc counts, each
    language's share within its source, and the source's language
    entropy (bits) — the diversity number a data-mixing decision
    reads first. Two groupBys keyed on source (the second consumes
    the first's exchange) and a per-source window for shares;
    output is |sources × langs| rows — audit-sized, never
    corpus-sized."""
    docs = load_table(spark, sf_dir, "documents").select("source", "lang")
    by = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("source")
    share = F.col("n_docs") / F.sum("n_docs").over(w)
    with_share = by.withColumn("share", share)
    ent = (
        with_share.groupBy("source")
        .agg(F.round(-F.sum(F.col("share") * F.log2("share")) + 1e-9, 6).alias("source_lang_entropy"))
    )
    return (
        with_share.join(ent, "source")
        .select(
            "source",
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("share") + 1e-9, 6).alias("lang_share"),
            "source_lang_entropy",
        )
    )


SOURCE_LANGUAGE_PROFILE_SQL = r"""
WITH by_sl AS (
  SELECT source, lang, count(*) AS n_docs FROM documents GROUP BY 1, 2
),
with_share AS (
  SELECT source, lang, n_docs,
         n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY source) AS share
  FROM by_sl
),
ent AS (
  SELECT source, round(-sum(share * log2(share)) + 1e-9, 6) AS source_lang_entropy
  FROM with_share GROUP BY source
)
SELECT w.source, w.lang, CAST(w.n_docs AS BIGINT) AS n_docs,
       round(w.share + 1e-9, 6) AS lang_share,
       e.source_lang_entropy
FROM with_share w JOIN ent e ON w.source = e.source
"""


# ---------------------------------------------------------------------------
# lang_mismatch_by_source — language-metadata trust audit
# ---------------------------------------------------------------------------


def lang_mismatch_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does a source's language METADATA agree with what the text
    actually looks like? `lang_id_eval` grades the classifier
    corpus-wide; this flips the audit around and grades each
    SOURCE's labels against the classifier — the crawl-governance
    check that catches mislabeled feeds (a "fr" feed full of English
    boilerplate) before language-targeted sampling trusts the
    column. Per source: docs, classifier abstentions (unk),
    disagreements (pred ≠ label, excluding abstentions), and both
    rates. One doc_id join + one |sources|-row aggregate on top of
    the scan-bound scorer."""
    pred = lang_id(spark, sf_dir).select("doc_id", "labeled_lang", "pred_lang")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    is_unk = (F.col("pred_lang") == "unk").cast("int")
    is_mism = (
        (F.col("pred_lang") != F.col("labeled_lang")) & (F.col("pred_lang") != "unk")
    ).cast("int")
    return (
        pred.join(src, "doc_id")
        .select("source", is_unk.alias("u"), is_mism.alias("m"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("u").alias("n_unk"),
            F.sum("m").alias("n_mismatch"),
            F.round(F.sum("u") / F.count(F.lit(1)) + 1e-9, 6).alias("unk_rate"),
            F.round(F.sum("m") / F.count(F.lit(1)) + 1e-9, 6).alias("mismatch_rate"),
        )
    )


def _lang_mismatch_by_source_sql() -> str:
    return f"""
WITH pred AS (
  SELECT doc_id, labeled_lang, pred_lang FROM ({LANG_ID_SQL}) p
),
j AS (
  SELECT d.source,
         CASE WHEN p.pred_lang = 'unk' THEN 1 ELSE 0 END AS u,
         CASE WHEN p.pred_lang <> p.labeled_lang AND p.pred_lang <> 'unk'
              THEN 1 ELSE 0 END AS m
  FROM pred p JOIN documents d USING (doc_id)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(u) AS BIGINT) AS n_unk,
       CAST(sum(m) AS BIGINT) AS n_mismatch,
       round(sum(u)::DOUBLE / count(*) + 1e-9, 6) AS unk_rate,
       round(sum(m)::DOUBLE / count(*) + 1e-9, 6) AS mismatch_rate
FROM j GROUP BY 1
"""


LANG_MISMATCH_BY_SOURCE_SQL = _lang_mismatch_by_source_sql()


# ---------------------------------------------------------------------------
# doc_encoding_audit — mojibake / control-char encoding health (r8)
# ---------------------------------------------------------------------------

# Java regex (Spark rlike) and RE2 (DuckDB regexp_matches) spell the
# same character classes differently; both sides below denote the
# IDENTICAL code-point sets. Control = C0 minus \t\n\r.
_CTRL_JAVA = "[\\u0000-\\u0008\\u000B\\u000C\\u000E-\\u001F]"
_CTRL_RE2 = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
_ZW_JAVA = "[\\u200B-\\u200D\\uFEFF]"
_ZW_RE2 = r"[\x{200B}-\x{200D}\x{FEFF}]"
_REPL_JAVA = "\\uFFFD"
_REPL_RE2 = r"\x{FFFD}"
_NONASCII_JAVA = "[^\\u0000-\\u007F]"
_NONASCII_RE2 = r"[^\x00-\x7F]"


def doc_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-health audit per source — the crawl-hygiene gate a
    100 TB ingest runs before any tokenizer sees the bytes: docs
    containing U+FFFD replacement characters (the smoking gun of a
    botched charset transcode — mojibake), raw C0 control characters
    (binary contamination / terminal escapes; \\t \\n \\r exempt),
    and zero-width characters (U+200B–U+200D, U+FEFF — invisible
    token-splitters and stray BOMs), plus the corpus-level non-ASCII
    character ratio per source (a step change between crawl
    snapshots of the same source is the classic double-encoding
    regression signal).

    Scale design: every flag is a JVM-side rlike / regexp projection
    inside the scan (zero Python, whole-stage codegen); the only
    shuffle is the final |sources|-row aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    n_chars = F.length("text")
    n_non_ascii = n_chars - F.length(F.regexp_replace("text", _NONASCII_JAVA, ""))
    flagged = docs.select(
        "source",
        F.col("text").rlike(_REPL_JAVA).cast("int").alias("has_repl"),
        F.col("text").rlike(_CTRL_JAVA).cast("int").alias("has_ctrl"),
        F.col("text").rlike(_ZW_JAVA).cast("int").alias("has_zw"),
        n_chars.alias("n_chars"),
        n_non_ascii.alias("n_non_ascii"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("has_repl").alias("n_replacement_docs"),
        F.sum("has_ctrl").alias("n_control_docs"),
        F.sum("has_zw").alias("n_zero_width_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_non_ascii").alias("n_non_ascii"),
        F.round(F.sum("n_non_ascii") / F.sum("n_chars") + 1e-9, 6).alias(
            "non_ascii_ratio"
        ),
    )


DOC_ENCODING_AUDIT_SQL = f"""
WITH flagged AS (
  SELECT source,
         CASE WHEN regexp_matches(text, '{_REPL_RE2}') THEN 1 ELSE 0 END AS has_repl,
         CASE WHEN regexp_matches(text, '{_CTRL_RE2}') THEN 1 ELSE 0 END AS has_ctrl,
         CASE WHEN regexp_matches(text, '{_ZW_RE2}') THEN 1 ELSE 0 END AS has_zw,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '{_NONASCII_RE2}', '', 'g'))
           AS n_non_ascii
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT)        AS n_docs,
       CAST(sum(has_repl) AS BIGINT)   AS n_replacement_docs,
       CAST(sum(has_ctrl) AS BIGINT)   AS n_control_docs,
       CAST(sum(has_zw) AS BIGINT)     AS n_zero_width_docs,
       CAST(sum(n_chars) AS BIGINT)    AS n_chars,
       CAST(sum(n_non_ascii) AS BIGINT) AS n_non_ascii,
       round(sum(n_non_ascii) * 1.0 / sum(n_chars) + 1e-9, 6) AS non_ascii_ratio
FROM flagged
GROUP BY 1
"""


QUERIES = {
    "doc_encoding_audit": (doc_encoding_audit, DOC_ENCODING_AUDIT_SQL),
    "text_stats": (text_stats, TEXT_STATS_SQL),
    "lang_mismatch_by_source": (lang_mismatch_by_source, LANG_MISMATCH_BY_SOURCE_SQL),
    "vocab_coverage_curve": (vocab_coverage_curve, VOCAB_COVERAGE_CURVE_SQL),
    "vocab_heaps_law": (vocab_heaps_law, VOCAB_HEAPS_LAW_SQL),
    "source_language_profile": (source_language_profile, SOURCE_LANGUAGE_PROFILE_SQL),
    "ngram_topk": (ngram_topk, NGRAM_TOPK_SQL),
    "doc_tfidf_topk": (doc_tfidf_topk, DOC_TFIDF_SQL),
    "corpus_prep_pipeline": (corpus_prep_pipeline, CORPUS_PREP_SQL),
    "text_quality": (text_quality, TEXT_QUALITY_SQL),
    "lang_id": (lang_id, LANG_ID_SQL),
    "lang_id_eval": (lang_id_eval, LANG_ID_EVAL_SQL),
    "token_count_bpe": (token_count_bpe, TOKEN_COUNT_BPE_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_SQL),
    "repetition_stats": (repetition_stats, REPETITION_STATS_SQL),
    "doc_chunk_windows": (doc_chunk_windows, DOC_CHUNK_WINDOWS_SQL),
    "token_length_histogram": (token_length_histogram, TOKEN_LENGTH_HISTOGRAM_SQL),
    "doc_unigram_logprob": (doc_unigram_logprob, DOC_UNIGRAM_LOGPROB_SQL),
    "doc_bigram_logprob": (doc_bigram_logprob, DOC_BIGRAM_LOGPROB_SQL),
    "source_unigram_divergence": (source_unigram_divergence, SOURCE_UNIGRAM_DIVERGENCE_SQL),
    "sentence_stats": (sentence_stats, SENTENCE_STATS_SQL),
    "doc_rake_keyphrases": (doc_rake_keyphrases, DOC_RAKE_KEYPHRASES_SQL),
    "doc_char_entropy": (doc_char_entropy, DOC_CHAR_ENTROPY_SQL),
    "doc_readability": (doc_readability, DOC_READABILITY_SQL),
    "vocab_topk": (vocab_topk, VOCAB_TOPK_SQL),
    "doc_bm25_topk": (doc_bm25_topk, DOC_BM25_SQL),
    "pmi_bigrams": (pmi_bigrams, PMI_BIGRAMS_SQL),
    "token_fertility": (token_fertility, TOKEN_FERTILITY_SQL),
    "oov_rate_by_source": (oov_rate_by_source, OOV_RATE_BY_SOURCE_SQL),
    "bpe_train_merges": (bpe_train_merges, BPE_TRAIN_MERGES_SQL),
    "bpe_segment_stats": (bpe_segment_stats, BPE_SEGMENT_STATS_SQL),
}
