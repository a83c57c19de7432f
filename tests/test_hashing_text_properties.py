"""Property tests for the hash and text Column builders."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datatransformertools_spark.functions.hashing import md5_long
from datatransformertools_spark.functions.text import normalize_text, tokens, word_shingles

text_strategy = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=200
)


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(text_strategy, min_size=20, max_size=20))
def test_md5_long_range_and_stability(spark, texts):
    import hashlib

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    rows = df.select("s", md5_long(F.col("s")).alias("h")).collect()
    for r in rows:
        # 60-bit non-negative, and exactly the first 15 hex chars of md5
        assert 0 <= r.h < (1 << 60)
        assert r.h == int(hashlib.md5(r.s.encode()).hexdigest()[:15], 16)


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(text_strategy, min_size=20, max_size=20))
def test_shingles_bounded_by_token_count(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    tok = tokens(normalize_text(F.col("s")))
    sh = word_shingles(tok, 3)
    rows = df.select(F.size(tok).alias("nt"), F.size(sh).alias("ns")).collect()
    for r in rows:
        if r.nt >= 3:
            # distinct shingles: at most n_tokens - 2, at least 1
            assert 1 <= r.ns <= r.nt - 2
        else:
            assert r.ns == 0


def test_normalize_is_idempotent_and_canonical(spark):
    cases = ["  A  B\tC \n", "a b c", "", "   ", "ALL CAPS   TEXT"]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    once = df.select(normalize_text(F.col("s")).alias("n1"))
    twice = once.select("n1", normalize_text(F.col("n1")).alias("n2"))
    for r in twice.collect():
        assert r.n1 == r.n2
        assert "  " not in r.n1 and r.n1 == r.n1.strip().lower()
