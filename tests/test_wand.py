"""Block-max pruned retrieval must be rank-identical (docIDs AND scores)
to the exhaustive scorer on every fixture query — the north-rule gate.

The pruning lives in the one top-k kernel (``segments.query_topk``, run
per query by ``serve_topk``): doc-range buckets are decoded by descending
block-max bound until the next bound falls below the k-th best score.
The Spark-free tests drive that numpy function directly; the others serve
trees whose small spans give many buckets per term."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from bertopic_spark.corpus import fixture_queries
from bertopic_spark.index.blocks import CODECS
from bertopic_spark.index.segments import (block_decoder, build_block_index,
                                           payload_scorer, posting_scorer,
                                           query_topk, score_col, serve_topk,
                                           tag_weight, write_index_segments)
from bertopic_spark.operators.bm25 import bm25_topk, doc_scores, queries_df, query_terms

SPANS = (16, 64)  # 32 and 8 buckets at 500 docs → pruning actually exercised
CTFIDF = {"scorer": "ctfidf", "reduce_frequent_words": False}


@pytest.fixture(scope="module")
def setup(spark, corpus_df, tmp_path_factory):
    scores = doc_scores(corpus_df, mode="ascii_code").cache()
    qt = query_terms(queries_df(spark, fixture_queries(40)), "ascii_code").cache()
    qts = {}
    for r in qt.collect():
        qts.setdefault(r["query_id"], []).append(r["term"])
    trees = {}
    for span in SPANS:
        trees[span] = str(tmp_path_factory.mktemp("wand") / f"span{span}")
        write_index_segments(build_block_index(scores, span), trees[span],
                             n_buckets=16)
    return scores, qt, qts, trees


def _collect(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    return {q: sorted(v) for q, v in out.items()}


def test_rank_identical_to_exhaustive(spark, setup):
    """serve_topk on span-16 and span-64 trees vs bm25_topk: same doc ids
    and scores at every k, ties by doc_id ascending. Both spans sum each
    doc in the same term order, so their scores are bit-identical."""
    scores, qt, qts, trees = setup
    for k in (1, 3, 10):
        want = _collect(bm25_topk(scores, qt, k=k))
        assert len(want) >= 30
        got = {span: _collect(serve_topk(spark, trees[span], qts, k=k))
               for span in SPANS}
        assert got[16] == got[64], k
        for q in want:
            assert ([(r, d) for r, d, _ in got[16][q]]
                    == [(r, d) for r, d, _ in want[q]]), (k, q)
            for (_, _, gs), (_, _, ws) in zip(got[16][q], want[q]):
                assert gs == pytest.approx(ws, abs=1e-12), (k, q)
            for (_, d0, s0), (_, d1, s1) in zip(got[16][q], got[16][q][1:]):
                assert s0 > s1 or (s0 == s1 and d0 < d1), (k, q)
        assert set(got[16]) == set(want)


def test_negative_block_max_does_not_prune_the_top_doc(spark, tmp_path):
    """A doc that lacks a term whose block max is negative (a negative
    weight) scores ABOVE Σ max_score of its bucket; the bound clips each
    block max at 0, so the bucket holding the best doc is still decoded.
    Every doc is 1000 tokens long, so tf/1000 × weight gives the scores
    -1.0 ("neg"), 2.0 + 0.001·i and 5.0 ("pos")."""
    rows = [(i, "neg", 1000, -1.0) for i in range(200) if i != 130]
    rows += [(i, "pos", 2000 + i, 1.0) for i in range(10)]
    rows += [(130, "pos", 5000, 1.0)]
    sc = spark.createDataFrame(
        rows, "doc_id long, term string, tf long, weight double")
    sc = sc.select("doc_id", "term", "tf", F.lit(1000).cast("long").alias("doc_len"),
                   tag_weight(F.col("weight"), "ctfidf",
                              reduce_frequent_words=False))
    sc = sc.withColumn("score", score_col(CTFIDF))
    path = str(tmp_path / "neg")
    write_index_segments(build_block_index(sc, 64), path, n_buckets=4)
    got = [(r.doc_id, r.score, r["rank"])
           for r in serve_topk(spark, path, {0: ["neg", "pos"]}, k=1).collect()]
    assert got == [(130, 5.0, 1)]
    qt = spark.createDataFrame([(0, "neg"), (0, "pos")],
                               "query_id long, term string")
    want = [(r.doc_id, r.score, r["rank"]) for r in bm25_topk(sc, qt, k=1).collect()]
    assert got == want


def _block_rows(postings, weights, doc_len, span, codec="varint"):
    """(term, blk, max_score, weight, payload) arrays from postings
    {term: {doc: tf}}, per-term weights and per-doc lengths, encoded the
    way build_block_index does (ctfidf scores tf / doc_len × weight),
    without Spark."""
    encode = CODECS[codec][0]
    score = posting_scorer(CTFIDF)
    term, blk, max_score, weight, payload = [], [], [], [], []
    for t in sorted(postings):
        docs = np.array(sorted(postings[t]), np.int64)
        for b in np.unique(docs // span):
            ids = docs[docs // span == b]
            tf = np.array([postings[t][d] for d in ids], np.int64)
            dl = np.array([doc_len[d] for d in ids], np.int64)
            term.append(t)
            blk.append(int(b))
            max_score.append(score(tf, dl, np.full(len(ids), weights[t])).max())
            weight.append(weights[t])
            payload.append(encode(ids, tf, dl, int(b) * span))
    return (np.array(term, object), np.array(blk, np.int64),
            np.array(max_score), np.array(weight), np.array(payload, object))


def _exhaustive(postings, weights, doc_len, terms, k):
    """Each doc's score summed in term order, top k by (score desc, doc asc)."""
    total = {}
    for t in sorted(set(terms)):
        for d, tf in postings.get(t, {}).items():
            total[d] = total.get(d, 0.0) + tf / doc_len[d] * weights[t]
    return sorted(total.items(), key=lambda x: (-x[1], x[0]))[:k]


def test_stats_counters_consistent_on_fixture(spark, setup):
    """The kernel's decoded-block count on the corpus fixture (span 64,
    8 buckets, ±scores): each query decodes between one and all of its
    candidate blocks, and the pruned answer equals the unpruned one bit
    for bit."""
    scores, _, qts, _ = setup
    blocks = build_block_index(scores, 64)
    decode_rows = block_decoder(64, "varint")
    score = posting_scorer(payload_scorer(blocks))
    rows = {}
    for r in blocks.select("term", "blk", "max_score", "weight",
                           "payload").collect():
        rows.setdefault(r["term"], []).append(r)
    pruned = 0
    for q, ts in sorted(qts.items()):
        cand = [r for t in ts for r in rows.get(t, [])]
        if not cand:
            continue
        term, blk, ms, w, pl = (np.array(c, dtype) for c, dtype in zip(
            zip(*cand), (object, np.int64, np.float64, np.float64, object)))
        docs, total, n = query_topk(term, blk, ms, w, pl, 10, decode_rows,
                                    score)
        full_docs, full_total, n_full = query_topk(term, blk, None, w, pl, 10,
                                                   decode_rows, score)
        assert 1 <= n <= len(cand) == n_full, q
        assert docs.tolist() == full_docs.tolist(), q
        assert total.tolist() == full_total.tolist(), q
        pruned += n < len(cand)
    assert pruned > 0


def test_pruning_actually_prunes():
    """Spark-free: on a stop-term-skewed relation (one rare high-impact
    term confined to bucket 0, one ubiquitous low-impact term) the kernel
    decodes bucket 0 and skips the 15 others, and the answer is the
    exhaustive one. Every doc is 1000 tokens long: "common" scores
    1/1000 × 10 = 0.01, "rare" (5000 + i)/1000 × 1 ≈ 5.0 + 0.001·i."""
    postings = {"common": {i: 1 for i in range(1000)},
                "rare": {i: 5000 + i for i in range(20)}}
    weights = {"common": 10.0, "rare": 1.0}
    doc_len = {i: 1000 for i in range(1000)}
    term, blk, ms, w, pl = _block_rows(postings, weights, doc_len, 64)
    # 1000 docs / span 64 = 16 buckets hold 'common', bucket 0 also 'rare'
    assert len(np.unique(blk)) == 16 and len(blk) == 17
    docs, total, n = query_topk(term, blk, ms, w, pl, 10,
                                block_decoder(64, "varint"),
                                posting_scorer(CTFIDF))
    # θ from the rare bucket (~5.01) dwarfs every common-only bound (0.01):
    # only bucket 0's two blocks are decoded, 15 buckets are skipped
    assert n == 2
    assert list(zip(docs.tolist(), total.tolist())) == _exhaustive(
        postings, weights, doc_len, ["common", "rare"], 10)


@pytest.mark.parametrize("codec", ["varint", "pfor"])
def test_blockmax_kernel_random_relations_property(codec):
    """Randomized safety net for the clipped bound: random sparse
    relations with NEGATIVE weights, random spans, k and multi-term
    queries — the pruned kernel returns exactly the exhaustive top k
    (same doc ids, bit-identical float64 scores, ties by doc id)."""
    rng = random.Random(4242)
    pruned = 0
    for trial in range(30):
        n_docs, n_terms = rng.choice([50, 300]), 12
        span = rng.choice([4, 16, 64])
        terms = [f"t{i}" for i in range(n_terms)]
        # a coarse grid (power-of-two lengths, small tfs) makes equal
        # sums, so ties reach rank k
        weights = {t: rng.choice([-1.0, -0.5, 0.25, 1.0, 2.0,
                                  round(rng.uniform(-1.0, 4.0), 3)])
                   for t in terms}
        doc_len = {d: rng.choice([1, 2, 4]) for d in range(n_docs)}
        postings = {t: {} for t in terms}
        for d in range(n_docs):
            for t in rng.sample(terms, rng.randint(1, 6)):
                postings[t][d] = rng.randint(1, 4)
        decode_rows = block_decoder(span, codec)
        for _ in range(5):
            q = rng.sample(terms, rng.randint(1, 5))
            k = rng.choice([1, 3, 7, 20])
            term, blk, ms, w, pl = _block_rows(
                {t: postings[t] for t in q}, weights, doc_len, span, codec)
            docs, total, n = query_topk(term, blk, ms, w, pl, k, decode_rows,
                                        posting_scorer(CTFIDF))
            assert (list(zip(docs.tolist(), total.tolist()))
                    == _exhaustive(postings, weights, doc_len, q, k)), (trial, q, k)
            pruned += n < len(blk)
    assert pruned > 0


def test_kernel_rejects_k_below_one():
    term, blk, ms, w, pl = _block_rows({"a": {0: 1}}, {"a": 1.0}, {0: 1}, 4)
    for k in (0, -1):
        with pytest.raises(ValueError, match="k"):
            query_topk(term, blk, ms, w, pl, k, block_decoder(4, "varint"),
                       posting_scorer(CTFIDF))


def test_maxscore_rank_identical_both_models(spark, corpus_df):
    from bertopic_spark.corpus import fixture_queries
    from bertopic_spark.operators.bm25 import (bm25_topk, doc_scores,
                                               maxscore_topk,
                                               okapi_doc_scores, queries_df,
                                               query_terms)

    qt = query_terms(queries_df(spark, fixture_queries(40)), "ascii_code")
    for sc in (doc_scores(corpus_df, mode="ascii_code"),          # ±scores
               okapi_doc_scores(corpus_df, text_col="content",
                                mode="ascii_code")):              # ≥0 scores
        sc = sc.cache()
        exact = {(r.query_id, r.rank): (r.doc_id, r.score)
                 for r in bm25_topk(sc, qt, k=10).collect()}
        ms = {(r.query_id, r.rank): (r.doc_id, r.score)
              for r in maxscore_topk(sc, qt, k=10).collect()}
        assert exact.keys() == ms.keys() and exact
        for key, (d, s) in exact.items():
            md, mscore = ms[key]
            assert md == d, key
            assert mscore == pytest.approx(s, abs=1e-9)
        sc.unpersist()


def test_maxscore_prunes_nonessential_terms(spark):
    from bertopic_spark.operators.bm25 import bm25_topk, maxscore_topk

    # 1 high-impact term + 1 ubiquitous low-impact term: the stop term's
    # postings must not generate candidates, yet its contribution to
    # candidate docs' scores must survive
    rows = [(i, "stop", 0.01) for i in range(1000)]
    rows += [(i, "rare", 5.0 + i * 0.001) for i in range(20)]
    sc = spark.createDataFrame(rows, "doc_id long, term string, score double")
    qt = spark.createDataFrame([(0, "stop"), (0, "rare")],
                               "query_id long, term string")
    exact = sorted((r.rank, r.doc_id) for r in
                   bm25_topk(sc, qt, k=5).collect())
    got = sorted((r.rank, r.doc_id) for r in
                 maxscore_topk(sc, qt, k=5).collect())
    assert got == exact
    # every top doc carries BOTH contributions (score > rare alone)
    scores = {r.doc_id: r.score for r in maxscore_topk(sc, qt, k=5).collect()}
    for d, s in scores.items():
        assert s == pytest.approx(5.0 + d * 0.001 + 0.01, abs=1e-12)


def test_maxscore_random_relations_property(spark):
    """Randomized safety net for the positive-part bound logic: random
    sparse score relations with NEGATIVE weights and random multi-term
    queries must stay rank-identical to the exhaustive scorer."""
    import random

    from bertopic_spark.operators.bm25 import bm25_topk, maxscore_topk

    rng = random.Random(4242)
    for trial in range(4):
        n_docs, n_terms = 300, 12
        terms = [f"t{i}" for i in range(n_terms)]
        rows = []
        for d in range(n_docs):
            for t in rng.sample(terms, rng.randint(1, 6)):
                rows.append((d, t, round(rng.uniform(-1.0, 4.0), 3)))
        sc = spark.createDataFrame(rows,
                                   "doc_id long, term string, score double")
        qrows = []
        for q in range(5):
            for t in rng.sample(terms, rng.randint(2, 5)):
                qrows.append((q, t))
        qt = spark.createDataFrame(qrows, "query_id long, term string")
        exact = sorted((r.query_id, r.rank, r.doc_id) for r in
                       bm25_topk(sc, qt, k=7).collect())
        ms = sorted((r.query_id, r.rank, r.doc_id) for r in
                    maxscore_topk(sc, qt, k=7).collect())
        assert ms == exact and exact, trial


def test_maxscore_stats_counters_on_skewed_fixture(spark):
    """MaxScore's stats_out on a stop-term-skewed corpus: the ubiquitous
    low-impact term's 1000 postings must be SKIPPED (not scored), and
    the counters must say so."""
    from bertopic_spark.operators.bm25 import maxscore_topk

    rows = [(i, "stop", 0.01) for i in range(1000)]
    rows += [(i, "rare", 5.0 + i * 0.001) for i in range(20)]
    sc = spark.createDataFrame(rows, "doc_id long, term string, score double")
    qt = spark.createDataFrame([(0, "stop"), (0, "rare")],
                               "query_id long, term string")
    stats = []
    maxscore_topk(sc, qt, k=5, stats_out=stats).count()
    r = stats[0].collect()[0]
    assert r["n_terms"] == 2 and r["n_essential"] == 1
    assert r["n_postings"] == 1020
    # scored = rare's 20 postings + stop's postings on candidate docs (20)
    assert r["n_scored"] == 40
    assert r["n_skipped"] == 980
    assert r["skip_rate"] == pytest.approx(980 / 1020, abs=1e-6)
