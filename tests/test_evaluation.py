"""Topic-quality metrics (operators/evaluation.py): u_mass / NPMI coherence
and topic diversity — hand-computed values on a 4-doc corpus, plus facade
wiring."""

import math

import pytest

from bertopic_spark.model import BERTopicSpark
from bertopic_spark.operators.evaluation import (
    npmi_coherence, topic_diversity, umass_coherence)


@pytest.fixture(scope="module")
def tiny(spark):
    # D(a)=3, D(b)=2, D(c)=1; D(a,b)=2, D(a,c)=0, D(b,c)=0; N=4
    doc_terms = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (4, "c")],
        "doc_id long, term string")
    topk = spark.createDataFrame(
        [("t1", 1, "a", 9.0), ("t1", 2, "b", 8.0),
         ("t2", 1, "a", 9.0), ("t2", 2, "c", 7.0)],
        "topic string, rank int, term string, score double")
    return topk, doc_terms


def test_umass_hand_values(tiny):
    topk, dt = tiny
    got = {r["topic"]: r["coherence"]
           for r in umass_coherence(topk, dt, ["topic"]).collect()}
    # t1: one ordered pair (b | a): ln((D(a,b)+1)/D(a)) = ln(3/3) = 0
    assert abs(got["t1"] - 0.0) < 1e-9
    # t2: (c | a): ln((0+1)/3)
    assert abs(got["t2"] - round(math.log(1 / 3), 6)) < 1e-9


def test_npmi_hand_values(tiny):
    topk, dt = tiny
    got = {r["topic"]: r["coherence"]
           for r in npmi_coherence(topk, dt, ["topic"]).collect()}
    # t1 pair (a,b): ln((2/4)/((3/4)*(2/4))) / -ln(2/4)
    want = math.log((2 / 4) / ((3 / 4) * (2 / 4))) / -math.log(2 / 4)
    assert abs(got["t1"] - round(want, 6)) < 1e-9
    # t2 pair (a,c) never co-occurs → -1
    assert got["t2"] == -1.0


def test_npmi_perfect_cooccurrence(spark):
    dt = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y")], "doc_id long, term string")
    topk = spark.createDataFrame(
        [("t", 1, "x", 2.0), ("t", 2, "y", 1.0)],
        "topic string, rank int, term string, score double")
    got = npmi_coherence(topk, dt, ["topic"]).collect()
    assert got[0]["coherence"] == 1.0  # co-occur in EVERY doc


def test_topic_diversity_fraction(tiny):
    topk, _ = tiny
    row = topic_diversity(topk, ["topic"]).collect()[0]
    assert (row["n_topics"], row["n_words"], row["n_unique"]) == (2, 4, 3)
    assert abs(row["diversity"] - 0.75) < 1e-9


def test_facade_coherence_and_diversity(documents_df):
    m = BERTopicSpark(class_cols=["lang"], top_n_words=5).fit(
        documents_df, "text", "doc_id")
    u = m.topic_coherence("u_mass").collect()
    n = m.topic_coherence("npmi").collect()
    k = m.scores_.select("lang").distinct().count()
    assert len(u) == k and len(n) == k
    # u_mass is ≤ 0 by construction only when pairs never beat the
    # conditioning df; generally it is finite — just sanity-bound npmi
    assert all(-1.0 - 1e-9 <= r["coherence"] <= 1.0 + 1e-9 for r in n)
    d = m.topic_diversity().collect()[0]
    assert 0.0 < d["diversity"] <= 1.0
    with pytest.raises(ValueError, match="measure"):
        m.topic_coherence("c_v")


def test_query_difficulty_hand_values(spark):
    """Exact pre-retrieval predictor values on a 2-doc corpus, including
    OOV accounting (n_terms vs n_vocab) and the SCS identity."""
    import math

    from bertopic_spark.operators.evaluation import query_difficulty

    docs = spark.createDataFrame(
        [(1, "aa aa bb"), (2, "bb cc dd")],
        "doc_id long, content string")
    q = spark.createDataFrame([(0, "aa"), (0, "zz")],
                              "query_id long, term string")
    r = query_difficulty(docs, q).collect()[0]
    assert (r["n_terms"], r["n_vocab"]) == (2, 1)
    idf = math.log(3.0 / 1.0)            # ln((N+1)/df), N=2, df_aa=1
    scq = (1 + math.log(2.0)) * math.log(1.0 + 2.0 / 1.0)
    assert abs(r["avg_idf"] - round(idf, 6)) < 1e-9
    assert r["max_idf"] == r["avg_idf"]
    assert abs(r["sum_scq"] - round(scq, 6)) < 1e-9
    assert r["avg_scq"] == r["max_scq"] == r["sum_scq"]
    # SCS with one in-vocab term: -ln(1) + ln(T/cf) = ln(6/2)
    assert abs(r["scs"] - round(math.log(3.0), 6)) < 1e-9


def test_clarity_score_hand_value(spark):
    """Exact clarity on a 2-doc corpus where only one doc matches: the
    feedback model is that doc's MLE model, clarity = (2/3)·ln 2."""
    import math

    from bertopic_spark.operators.evaluation import clarity_score

    docs = spark.createDataFrame(
        [(1, "aa aa bb"), (2, "bb cc dd")],
        "doc_id long, content string")
    q = spark.createDataFrame([(0, "aa")], "query_id long, term string")
    r = clarity_score(docs, q, k=10).collect()[0]
    assert r["n_fb"] == 1
    # P(aa|R)=2/3 (KL term (2/3)ln((2/3)/(2/6))), P(bb|R)=1/3 (KL term 0)
    assert abs(r["clarity"] - round((2.0 / 3.0) * math.log(2.0), 6)) < 1e-9
    # a query distributed like the collection has ~zero clarity relative
    # to a focused one
    q2 = spark.createDataFrame([(1, "bb")], "query_id long, term string")
    r2 = clarity_score(docs, q2, k=10).collect()[0]
    assert r2["n_fb"] == 2 and r2["clarity"] < r["clarity"]


def test_err_hand_case(spark):
    """ERR of a 2-hit list against the closed form."""
    from bertopic_spark.operators.bm25 import rank_eval

    hits = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id long, doc_id long, rank long")
    judg = spark.createDataFrame(
        [(0, 10, 3.0), (0, 12, 2.0)], "query_id long, doc_id long, grade double")
    out = rank_eval(hits, judg, k=3).collect()[0]
    r1, r3 = (2 ** 3 - 1) / 16.0, (2 ** 2 - 1) / 16.0
    want = r1 / 1 + 0.0 / 2 + (1 - r1) * (1 - 0.0) * r3 / 3
    assert out["err_at_k"] == pytest.approx(want, abs=1e-9)
    # no relevant hits -> ERR 0
    none = rank_eval(hits, judg.filter("grade < 0"), k=3).collect()[0]
    assert none["err_at_k"] == pytest.approx(0.0, abs=1e-12)
    # a grade above max_grade would silently null the ERR cascade
    # (ln(1-R) with R > 1) — the in-plan assert_true guard must raise at
    # execution (the API stays lazy; no eager validation job). ES exposes
    # the same knob as maximum_relevance.
    big = spark.createDataFrame([(0, 10, 7.0)],
                                "query_id long, doc_id long, grade double")
    with pytest.raises(Exception, match="max_grade"):
        rank_eval(hits, big, k=3).collect()
    # …and raising max_grade accepts it: ERR with R=(2^7-1)/2^7
    out7 = rank_eval(hits, big, k=3, max_grade=7.0).collect()[0]
    assert out7["err_at_k"] == pytest.approx((2 ** 7 - 1) / 2 ** 7, abs=1e-9)
    with pytest.raises(ValueError, match="max_grade"):
        rank_eval(hits, big, k=3, max_grade=0.0)


def test_rank_eval_null_grade_is_unjudged(spark):
    """A NULL-graded judgment passes the max_grade guard and scores as a
    non-relevant (grade-0) judgment; the guard's message names the bad
    grade."""
    from bertopic_spark.operators.bm25 import rank_eval

    hits = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id long, doc_id long, rank long")
    schema = "query_id long, doc_id long, grade double"
    with_null = spark.createDataFrame(
        [(0, 10, 3.0), (0, 11, None), (0, 12, 2.0), (0, 13, None)], schema)
    with_zero = spark.createDataFrame(
        [(0, 10, 3.0), (0, 11, 0.0), (0, 12, 2.0), (0, 13, 0.0)], schema)
    got = rank_eval(hits, with_null, k=3).collect()[0].asDict()
    want = rank_eval(hits, with_zero, k=3).collect()[0].asDict()
    assert got == pytest.approx(want, abs=1e-12)
    big = spark.createDataFrame([(0, 10, 7.0), (0, 11, None)], schema)
    with pytest.raises(Exception, match="max_grade=4.0.*: 7.0"):
        rank_eval(hits, big, k=3).collect()
