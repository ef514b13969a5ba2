"""Tokenizer parity: python kernel == JVM expression == (semantics doc)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bertopic_spark.tokenizer import (
    duckdb_tokens_sql,
    preprocess_text,
    tokenize_one,
    tokens_expr,
    tokens_udf,
)

CASES = [
    "Hello worldX aB the_snake camelCase 42x",
    "def getUserName(self):\n\treturn self._user_name  # license Apache",
    "",
    "a",
    "ALLCAPS mixedUPPERCase x9y8z7 __dunder__ tab\there",
    "éclair naïve 東京 привет mixed ascii42",
    "1234 12 1 ab_cd_ef HTTPResponse parseHTMLPage",
]


def test_preprocess_semantics():
    # reference _bertopic.py:4804-4816 behavior
    assert preprocess_text("a\nb\tc") == "a b c"
    assert preprocess_text("!!!") == "emptydoc"
    assert preprocess_text("", english=False) == "emptydoc"
    assert preprocess_text("   ") == "   "  # whitespace-only is NOT emptydoc
    assert preprocess_text("é é", english=True) == " "  # accents stripped, not space


def test_bertopic_english_tokens():
    assert tokenize_one("Hello, world! It's 42x.", "bertopic_english") == [
        "hello", "world", "its", "42x"]
    assert tokenize_one("", "bertopic_english") == ["emptydoc"]
    assert tokenize_one("東京", "bertopic_english") == ["emptydoc"]


def test_multilingual_keeps_unicode():
    assert "東京" in tokenize_one("東京 tower", "bertopic_multilingual")
    assert tokenize_one("naïve café", "bertopic_multilingual") == ["naïve", "café"]


def test_code_aware_splitting():
    assert tokenize_one("getUserName get_user_name", "code_aware") == [
        "get", "user", "name", "get", "user", "name"]
    assert tokenize_one("parseHTMLPage", "code_aware") == ["parse", "htmlpage"]
    assert tokenize_one("x9y8", "code_aware") == ["x9y8"]


def test_ngrams():
    assert tokenize_one("aa bb cc", "ascii_code", (1, 2)) == [
        "aa", "bb", "cc", "aa bb", "bb cc"]
    assert tokenize_one("aa bb", "ascii_code", (2, 3)) == ["aa bb"]


@pytest.mark.parametrize("mode", ["ascii_code", "code_aware", "bertopic_english"])
def test_jvm_expr_matches_python_kernel(spark, mode):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CASES)], "i int, t string")
    got = {r["i"]: r["toks"] for r in
           df.select("i", tokens_expr(F.col("t"), mode).alias("toks")).collect()}
    for i, t in enumerate(CASES):
        assert got[i] == tokenize_one(t, mode), (mode, t)


@pytest.mark.parametrize("mode", ["ascii_code", "code_aware", "bertopic_english",
                                  "bertopic_multilingual"])
def test_pandas_udf_matches_python_kernel(spark, mode):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CASES)], "i int, t string")
    got = {r["i"]: r["toks"] for r in
           df.select("i", tokens_udf(mode)(F.col("t")).alias("toks")).collect()}
    for i, t in enumerate(CASES):
        assert got[i] == tokenize_one(t, mode), (mode, t)


@pytest.mark.parametrize("mode", ["ascii_code", "code_aware", "bertopic_english"])
def test_duckdb_oracle_matches_python_kernel(mode):
    import duckdb

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(CASES)), "txt": CASES}))
    sql = f"select i, {duckdb_tokens_sql('txt', mode)} as toks from t order by i"
    for i, toks in con.sql(sql).fetchall():
        assert list(toks) == tokenize_one(CASES[i], mode), (mode, CASES[i])


def test_doc_term_counts_combine_modes_identical(spark):
    """combine="local" (in-row run-length, zero shuffle) must be
    result-identical to combine="shuffle" (explode+groupBy), including
    doc_len, across empty docs / repeated terms / unicode."""
    from bertopic_spark.operators.postings import doc_term_counts

    rows = [(0, "aa bb aa cc aa bb"), (1, ""), (2, "zz"),
            (3, "x " * 50 + "y"), (4, "naïve café naïve")]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    a = doc_term_counts(df, "t", ["doc_id"], with_len=True, combine="local")
    b = doc_term_counts(df, "t", ["doc_id"], with_len=True, combine="shuffle")
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == b.count() > 0


@pytest.mark.parametrize("combine", ["shuffle", "local"])
@pytest.mark.parametrize("with_len", [False, True])
def test_doc_term_counts_tokenizes_each_document_once(spark, combine, with_len):
    """The optimized plan evaluates the tokenizer once (no filter inferred
    from the explode drags a copy of it below the projection), and the rows
    are the python kernel's counts: no row for a NULL or token-free text."""
    from collections import Counter

    from bertopic_spark.operators.postings import doc_term_counts

    rows = [(0, "aa bb aa cc aa bb"), (1, ""), (2, None), (3, "zz !!"),
            (4, "naïve café naïve")]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    out = doc_term_counts(df, "t", ["doc_id"], with_len=with_len, combine=combine)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract_all") == 1
    want = set()
    for i, t in rows:
        toks = tokenize_one(t) if t is not None else []
        for term, tf in Counter(toks).items():
            want.add((i, term, tf, len(toks)) if with_len else (i, term, tf))
    assert {tuple(r) for r in out.collect()} == want
    assert out.count() == len(want)
