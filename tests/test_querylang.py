"""Query-string language: parser unit checks + end-to-end brute-force
equality on the fixture corpus."""

import math

import pytest
from pyspark.sql import functions as F

from bertopic_spark.operators.querylang import parse_query, search_query
from bertopic_spark.tokenizer import tokenize_one

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_parse_query_clauses():
    s = parse_query('+customer -spark "table scan" -"bad phrase" ord* '
                    'w?ld valu~ deep~2 lang:en plain CamelCase')
    assert s["must"] == ["customer"]
    assert s["must_not"] == ["spark"]
    assert s["phrases"] == [["table", "scan"]]
    assert s["not_phrases"] == [["bad", "phrase"]]
    assert s["wildcards"] == ["ord*", "w?ld"]
    assert s["fuzzies"] == [("valu", 1), ("deep", 2)]
    assert s["fields"] == [("lang", "en")]
    assert s["should"] == ["plain", "camelcase"]
    assert parse_query("") == parse_query('""')
    for bad in ["+ord*", "-valu~", "+lang:en", "lang:", ":en"]:
        with pytest.raises(ValueError):
            parse_query(bad)


def _lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        nd = [i]
        for j, cb in enumerate(b, 1):
            nd.append(min(dp[j] + 1, nd[-1] + 1, dp[j - 1] + (ca != cb)))
        dp = nd
    return dp[-1]


def test_search_query_brute(spark, docs):
    from bertopic_spark.operators.bm25 import doc_scores

    q = '+customer -spark "customer stream" ord* valu~ lang:en'
    got = [(r.doc_id, round(r.score, 9), r["rank"])
           for r in search_query(docs, q, k=5, text_col="text").collect()]
    rows = [(r.doc_id, r.lang, tokenize_one(r.text or "", "ascii_code"))
            for r in docs.select("doc_id", "lang", "text").collect()]
    vocab = {t for _, _, ts in rows for t in ts}
    positive = sorted({"customer", "stream"}
                      | {t for t in vocab if t.startswith("ord")}
                      | {t for t in vocab if _lev(t, "valu") <= 1})
    sc = {(r.doc_id, r.term): r.score
          for r in doc_scores(docs, "text", "doc_id")
          .filter(F.col("term").isin(positive)).collect()}
    cands = []
    for d, lg, ts in rows:
        s = set(ts)
        if lg != "en" or "customer" not in s or "spark" in s:
            continue
        if not any(ts[i:i + 2] == ["customer", "stream"]
                   for i in range(len(ts) - 1)):
            continue
        cands.append((-sum(sc.get((d, t), 0.0) for t in positive if t in s), d))
    want = [(d, round(-negs, 9), i + 1)
            for i, (negs, d) in enumerate(sorted(cands)[:5])]
    assert got == want
    assert got  # the fixture query must actually hit


def test_search_query_guards(spark, docs):
    with pytest.raises(ValueError):
        search_query(docs, "-onlynegative", text_col="text")
    with pytest.raises(ValueError):  # unbounded expansion fails loudly
        search_query(docs, "customer a*", text_col="text", max_expand=0)
    # cache hygiene: repeated queries do not grow executor storage
    jsc = spark.sparkContext._jsc
    before = len(jsc.getPersistentRDDs())
    for _ in range(3):
        search_query(docs, "+customer stream", k=3, text_col="text")
    # each call localCheckpoints its ≤k-row result; the big counts
    # relation must be released (checkpoints are k-row, tolerated)
    after = len(jsc.getPersistentRDDs())
    assert after - before <= 3


def test_indexed_search_equals_scan_path(spark, docs, tmp_path_factory):
    from pyspark.sql import functions as F

    from bertopic_spark.index.positions import write_positions
    from bertopic_spark.index.segments import (build_block_index,
                                               write_index_segments)
    from bertopic_spark.operators.bm25 import doc_scores
    from bertopic_spark.operators.fulltext import (doc_term_positions,
                                                   term_dictionary)
    from bertopic_spark.operators.querylang import search_query_indexed

    root = tmp_path_factory.mktemp("qlidx")
    seg, posp = str(root / "seg"), str(root / "pos")
    held = []
    sc = doc_scores(docs, "text", "doc_id", _persisted_out=held)
    write_index_segments(build_block_index(sc, span=256), seg, n_buckets=16)
    write_positions(doc_term_positions(docs, "text", "doc_id"), posp,
                    n_buckets=16)
    d = term_dictionary(docs, "text", "doc_id").persist()
    held.append(d)
    for q in ['+customer -spark "customer stream" ord* valu~ lang:en',
              'customer stream -"batch vector"',
              '+order w?ndow',
              'customer^2 +stream^0.5 order -spark']:
        got = [(r.doc_id, round(r.score, 9), r["rank"])
               for r in search_query_indexed(
                   spark, seg, posp, q, dictionary=d,
                   meta=docs.select("doc_id", "lang"), k=5).collect()]
        want = [(r.doc_id, round(r.score, 9), r["rank"])
                for r in search_query(docs, q, k=5, text_col="text").collect()]
        assert got == want and got, q
    with pytest.raises(ValueError):
        search_query_indexed(spark, seg, posp, "+customer ord*")  # no dict
    with pytest.raises(ValueError):
        search_query_indexed(spark, seg, posp, "customer lang:en",
                             dictionary=d)  # no meta
    for x in held:
        x.unpersist()


class TestFuzzIndexedParity:
    """Property fuzz: random query-language strings assembled from the
    CORPUS vocabulary (never hand-typed English — empty-result parity is
    vacuous) must rank identically through the scan path and the
    persisted-index path."""

    @pytest.fixture(scope="class")
    def setup(self, spark, docs, tmp_path_factory):
        from bertopic_spark.index.positions import write_positions
        from bertopic_spark.index.segments import (build_block_index,
                                                   write_index_segments)
        from bertopic_spark.operators.bm25 import doc_scores
        from bertopic_spark.operators.fulltext import (doc_term_positions,
                                                       term_dictionary)

        root = tmp_path_factory.mktemp("qlfuzz")
        seg, posp = str(root / "seg"), str(root / "pos")
        held = []
        sc = doc_scores(docs, "text", "doc_id", _persisted_out=held)
        write_index_segments(build_block_index(sc, span=256), seg, n_buckets=16)
        write_positions(doc_term_positions(docs, "text", "doc_id"), posp,
                        n_buckets=16)
        d = term_dictionary(docs, "text", "doc_id").persist()
        held.append(d)
        vocab = [r["term"] for r in
                 d.orderBy(F.desc("df"), F.asc("term")).limit(24).collect()]
        yield seg, posp, d, vocab
        for x in held:
            x.unpersist()

    def test_fuzz(self, spark, docs, setup):
        import random

        from bertopic_spark.operators.querylang import search_query_indexed

        seg, posp, d, vocab = setup
        rng = random.Random(717)
        checked = nonempty = 0
        for _ in range(12):
            terms = rng.sample(vocab, 5)
            parts = [terms[0], terms[1]]
            if rng.random() < 0.5:
                parts.append("+" + terms[2])
            if rng.random() < 0.5:
                parts.append("-" + terms[3])
            if rng.random() < 0.4:
                parts.append(f'"{terms[0]} {terms[1]}"')
            if rng.random() < 0.4:
                parts.append(terms[4][:3] + "*")
            if rng.random() < 0.3:
                parts.append(terms[4] + "~")
            q = " ".join(parts)
            got = [(r.doc_id, round(r.score, 9), r["rank"])
                   for r in search_query_indexed(
                       spark, seg, posp, q, dictionary=d, k=5).collect()]
            want = [(r.doc_id, round(r.score, 9), r["rank"])
                    for r in search_query(docs, q, k=5,
                                          text_col="text").collect()]
            assert got == want, q
            checked += 1
            nonempty += bool(got)
        assert checked == 12
        assert nonempty >= 8  # vocabulary-drawn queries must mostly hit


def test_boost_semantics(spark, docs):
    from bertopic_spark.operators.querylang import parse_query, search_query

    spec = parse_query("customer^2 +value^0.5 order")
    assert spec["boosts"] == {"customer": 2.0, "value": 0.5}
    assert "customer" in spec["should"] and "value" in spec["must"]
    for bad in ("-spark^2", "ord*^2", "valu~^2", "lang:en^2"):
        with pytest.raises(ValueError):
            parse_query(bad)

    # boost ^1 everywhere ≡ unboosted query, score for score
    a = [(r.doc_id, round(r.score, 9)) for r in
         search_query(docs, "customer order", k=10,
                      text_col="text").collect()]
    b = [(r.doc_id, round(r.score, 9)) for r in
         search_query(docs, "customer^1 order^1.0", k=10,
                      text_col="text").collect()]
    assert a == b and a

    # doubling one term doubles exactly its contribution: score(2x) =
    # score(base) + score(term alone)
    base = {r.doc_id: r.score for r in
            search_query(docs, "customer order", k=10 ** 6,
                         text_col="text").collect()}
    alone = {r.doc_id: r.score for r in
             search_query(docs, "customer", k=10 ** 6,
                          text_col="text").collect()}
    boosted = {r.doc_id: r.score for r in
               search_query(docs, "customer^2 order", k=10 ** 6,
                            text_col="text").collect()}
    assert boosted.keys() == base.keys()
    for d, s in boosted.items():
        want = base[d] + alone.get(d, 0.0)
        assert s == pytest.approx(want, abs=1e-9), d


def test_range_clause_parse_and_gate(spark):
    from bertopic_spark.operators.querylang import parse_query, search_query

    spec = parse_query("+aa n_chars:[10 TO 20} lang:{ab TO *]")
    assert spec["ranges"] == [("n_chars", 10.0, 20.0, True, False),
                              ("lang", "ab", None, False, True)]
    docs = spark.createDataFrame(
        [(0, "aa bb", 10), (1, "aa bb", 20), (2, "aa bb", 15),
         (3, "cc dd", 15)], "doc_id long, text string, n_chars long")
    out = search_query(docs, "+aa n_chars:[10 TO 20}", k=10,
                       text_col="text")
    # inclusive 10, exclusive 20; doc 3 fails +aa
    assert {r["doc_id"] for r in out.collect()} == {0, 2}
    out2 = search_query(docs, "+aa n_chars:[* TO 15]", k=10,
                        text_col="text")
    assert {r["doc_id"] for r in out2.collect()} == {0, 2}


def test_range_clause_validation():
    import pytest as _pt

    from bertopic_spark.operators.querylang import parse_query

    with _pt.raises(ValueError):
        parse_query("n:[* TO *]")
    with _pt.raises(ValueError):
        parse_query("n:[1 TO abc]")
    with _pt.raises(ValueError):
        parse_query("-n:[1 TO 2]")
