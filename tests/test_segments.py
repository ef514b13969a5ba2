"""Segment serving path: bucket layout, pruned scan, serve_topk identity,
pure-Python xxhash64 parity."""

import uuid

import pytest
from pyspark.sql import functions as F

from bertopic_spark.corpus import fixture_queries
from bertopic_spark.index.segments import (
    IndexServer,
    SegmentTree,
    _topk_over_scan,
    build_block_index,
    pruned_block_scan,
    serve_topk,
    term_bucket,
    write_index_segments,
)
from bertopic_spark.index.xxh import xxhash64_str
from bertopic_spark.operators.bm25 import bm25_topk, doc_scores, queries_df, query_terms
from bertopic_spark.tokenizer import tokenize_one

SPAN = 64


@pytest.fixture(scope="module")
def seg_path(spark, corpus_df, tmp_path_factory):
    scores = doc_scores(corpus_df, mode="ascii_code").persist()
    blocks = build_block_index(scores, SPAN)
    path = str(tmp_path_factory.mktemp("segs") / "idx")
    write_index_segments(blocks, path, n_buckets=16)
    return path, scores


def test_xxhash64_matches_spark(spark):
    terms = ["", "a", "the", "userName", "x" * 31, "y" * 32, "東京", "naïve", "zz9"]
    df = spark.createDataFrame([(t,) for t in terms], "t string")
    got = {r["t"]: r["h"] for r in df.select("t", F.xxhash64("t").alias("h")).collect()}
    for t in terms:
        assert got[t] == xxhash64_str(t), t


def test_bucket_layout_pruned_scan(spark, seg_path):
    path, scores = seg_path
    sc = pruned_block_scan(spark, path, ["the", "license"])
    terms = {r["term"] for r in sc.select("term").distinct().collect()}
    assert terms <= {"the", "license"} and terms
    plan = sc._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan or "bucket" in plan
    # bucket assignment matches the writer
    rows = spark.read.parquet(path).select("term", "bucket").distinct().collect()
    for r in rows:
        assert r["bucket"] == term_bucket(r["term"], 16)


def test_serve_topk_rank_identical(spark, corpus_df, seg_path):
    path, scores = seg_path
    fq = fixture_queries(20)
    qts = {qid: sorted(set(tokenize_one(fq[qid], "ascii_code"))) for qid in sorted(fq)}
    got = {}
    for r in serve_topk(spark, path, qts, k=10).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    qt = query_terms(queries_df(spark, fq), "ascii_code")
    want = {}
    for r in bm25_topk(scores, qt, k=10).collect():
        want.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    assert set(got) == set(want)
    for q in want:
        gw = sorted(got[q])
        ww = sorted(want[q])
        assert [(r, d) for r, d, _ in gw] == [(r, d) for r, d, _ in ww], q
        for (_, _, gs), (_, _, ws) in zip(gw, ww):
            assert gs == pytest.approx(ws, abs=1e-12)


def _term_order_topk(scored, qts, k):
    """The exhaustive top k of each query from the relation's own float64
    scores, each doc's sum taken in term order as the kernel takes it:
    {qid: [(rank, doc, score)]}."""
    by_term = {}
    for r in scored.select("term", "doc_id", "score").collect():
        by_term.setdefault(r["term"], {})[r["doc_id"]] = r["score"]
    out = {}
    for q, ts in qts.items():
        total = {}
        for t in sorted(set(ts)):
            for d, sc in by_term.get(t, {}).items():
                total[d] = total.get(d, 0.0) + sc
        ranked = sorted(total.items(), key=lambda x: (-x[1], x[0]))[:k]
        if ranked:
            out[q] = [(i + 1, d, sc) for i, (d, sc) in enumerate(ranked)]
    return out


@pytest.mark.parametrize("weighting", [
    {}, {"bm25_weighting": False}, {"reduce_frequent_words": True}, "okapi"])
def test_score_free_tree_is_rank_identical(spark, corpus_df, tmp_path,
                                           weighting):
    """A tree stores (doc gap, tf, doc length) and one weight per row; the
    kernel's scores are the float64 values the scorer computed at build:
    decode_blocks gives back each posting's score with ==, serve_topk's
    sums equal (==) the term-order sums of those scores, and its ranks
    are bm25_topk's / okapi_bm25_topk's (whose Spark sums may add the
    same values in another order, so their scores are compared to
    1e-12)."""
    from bertopic_spark.index.segments import decode_blocks
    from bertopic_spark.operators.bm25 import okapi_bm25_topk, okapi_doc_scores

    fq = fixture_queries(20)
    qts = {q: sorted(set(tokenize_one(fq[q], "ascii_code"))) for q in fq}
    qt = query_terms(queries_df(spark, fq), "ascii_code")
    if weighting == "okapi":
        scored = okapi_doc_scores(corpus_df, mode="ascii_code").persist()
        oracle = okapi_bm25_topk(corpus_df, qt, k=10, mode="ascii_code")
    else:
        scored = doc_scores(corpus_df, mode="ascii_code", **weighting).persist()
        oracle = bm25_topk(scored, qt, k=10)
    blocks = build_block_index(scored, SPAN)
    posting = {(r["term"], r["doc_id"]): (r["tf"], r["score"])
               for r in scored.collect()}
    assert {(r["term"], r["doc_id"]): (r["tf"], r["score"])
            for r in decode_blocks(blocks).collect()} == posting
    path = str(tmp_path / "idx")
    write_index_segments(blocks, path, n_buckets=16)

    def ranked(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"]))
        return {q: sorted(v) for q, v in out.items()}

    got = ranked(serve_topk(spark, path, qts, k=10))
    assert got == _term_order_topk(scored, qts, 10) and len(got) > 10
    want = ranked(oracle)
    assert set(got) == set(want)
    for q in want:
        assert [(r, d) for r, d, _ in got[q]] == [(r, d) for r, d, _ in want[q]], q
        for (_, _, gs), (_, _, ws) in zip(got[q], want[q]):
            assert gs == pytest.approx(ws, abs=1e-12), q
    scored.unpersist()


def test_index_server_matches_cold_path_and_releases_cache(spark, seg_path):
    """Warm serving session (IndexServer): identical results to the cold
    serve_topk path, and nothing is left in executor storage after
    close()."""
    path, _ = seg_path
    fq = fixture_queries(10)
    qts = {qid: sorted(set(tokenize_one(fq[qid], "ascii_code")))
           for qid in sorted(fq)}

    def rel(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], round(r["score"], 9)))
        return {q: sorted(v) for q, v in out.items()}

    cold = rel(serve_topk(spark, path, qts, k=10))
    n0 = spark.sparkContext._jsc.getPersistentRDDs().size()
    with IndexServer(spark, path) as srv:
        warm = rel(srv.topk(qts, k=10))
        # single-query serve on the same session
        one = rel(srv.topk({0: qts[0]}, k=10))
    assert warm == cold
    assert one[0] == cold[0]
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n0


TIE_CORPUS = [
    "alpha beta gamma", "alpha delta", "alpha beta shared", "alpha beta shared",
    "alpha beta shared", "beta gamma gamma", "delta epsilon",
    "alpha alpha beta beta", "gamma epsilon zeta", "alpha beta shared",
    "alpha beta shared", "shared delta",
]


@pytest.fixture(scope="module")
def tie_seg(spark, tmp_path_factory):
    """12 docs in 3 blocks per common term; the "alpha beta ..." triples
    score bit-identically, so ties straddle rank k."""
    rows = [("r", f"f{i}.py", "c0", t, i) for i, t in enumerate(TIE_CORPUS)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string, doc_id long")
    scores = doc_scores(df, mode="ascii_code").persist()
    path = str(tmp_path_factory.mktemp("ties") / "idx")
    write_index_segments(build_block_index(scores, 4), path, n_buckets=16)
    return path, scores


def test_serve_topk_fanout_repeats_and_ties(spark, tie_seg):
    """Queries sharing terms, a repeated term and ties at rank k: the
    answer is rank-identical to bm25_topk, ties broken by doc_id asc."""
    path, scores = tie_seg
    k = 3
    texts = {0: "alpha beta", 1: "beta gamma", 2: "alpha alpha shared",
             3: "shared delta", 4: "gamma zzzoov"}
    qts = {q: tokenize_one(t, "ascii_code") for q, t in texts.items()}
    assert qts[2].count("alpha") == 2
    qt = query_terms(queries_df(spark, texts), "ascii_code")

    def ranked(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"]))
        return {q: sorted(v) for q, v in out.items()}

    full = ranked(bm25_topk(scores, qt, k=len(TIE_CORPUS)))
    # the fixture really cuts a tie group at rank k
    cut = [q for q, v in full.items() if len(v) > k and v[k - 1][2] == v[k][2]]
    assert 0 in cut
    want = {q: v[:k] for q, v in full.items()}
    got = ranked(serve_topk(spark, path, qts, k=k))
    assert set(got) == set(want)
    for q in want:
        assert [(r, d) for r, d, _ in got[q]] == [(r, d) for r, d, _ in want[q]], q
        for (_, _, gs), (_, _, ws) in zip(got[q], want[q]):
            assert gs == pytest.approx(ws, abs=1e-12)
    for q in cut:
        tied = [d for _, d, s in full[q] if s == full[q][k - 1][2]]
        in_topk = [d for _, d, _ in got[q] if d in tied]
        assert in_topk == sorted(tied)[:len(in_topk)], q


def test_pruned_scan_reads_only_query_buckets(spark, tie_seg):
    import re

    path, _ = tie_seg
    terms = ["alpha", "zeta"]
    want = {term_bucket(t, 16) for t in terms}
    sc = pruned_block_scan(spark, path, terms)
    leaves = sc._jdf.queryExecution().executedPlan().collectLeaves()
    roots = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        assert leaf.getClass().getSimpleName() == "FileSourceScanExec"
        paths = leaf.relation().location().rootPaths()
        roots += [paths.apply(j).toString() for j in range(paths.size())]
    assert {int(re.search(r"bucket=(\d+)$", r).group(1)) for r in roots} == want
    assert {r["term"] for r in sc.select("term").collect()} == set(terms)


def _jobs(spark, fn):
    """(fn(), the number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    group = f"serve-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_serve_topk_runs_no_job_and_matches_the_spark_kernel(spark, tie_seg):
    """serve_topk reads and scores on the driver with no Spark job, and its
    rows are those of the kernel's Spark route (the one
    IncrementalIndex.topk takes) over the pruned scan: the same
    (query_id, rank, doc_id) and float64 scores equal with ==."""
    path, _ = tie_seg
    qts = {0: ["alpha", "beta"], 1: ["shared", "delta"], 2: ["zzzoov"]}
    terms = sorted({t for ts in qts.values() for t in ts})

    def rows(df):
        return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                      for r in df.collect())

    on_driver, n_driver = _jobs(
        spark, lambda: rows(serve_topk(spark, path, qts, k=3)))
    on_spark, n_spark = _jobs(spark, lambda: rows(_topk_over_scan(
        SegmentTree(spark, path, "blocks").scan(terms), qts, 3)))
    assert n_driver == 0 and n_spark >= 1
    assert on_driver == on_spark and {q for q, *_ in on_driver} == {0, 1}


def test_index_server_runs_no_spark_job(spark, tie_seg):
    """IndexServer.topk answers like serve_topk with no Spark job, on its
    first request and on a repeat."""
    path, _ = tie_seg
    qts = {0: ["alpha", "beta"], 3: ["shared", "delta"]}

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    with IndexServer(spark, path) as srv:
        first, n_first = _jobs(spark, lambda: rows(srv.topk(qts, k=3)))
        again, n_again = _jobs(spark, lambda: rows(srv.topk(qts, k=3)))
    assert (n_first, n_again) == (0, 0)
    assert first == again == rows(serve_topk(spark, path, qts, k=3)) and first


def test_serve_topk_on_a_uri_root(spark, tie_seg):
    """A file:// tree root is read on the driver through the root's own
    filesystem, with the answer of the plain path and no Spark job."""
    path, _ = tie_seg
    qts = {0: ["alpha", "beta"], 1: ["gamma", "epsilon"]}

    def rows(p):
        return sorted(tuple(r) for r in serve_topk(spark, p, qts, k=4).collect())

    uri, n = _jobs(spark, lambda: rows("file://" + path))
    assert n == 0 and uri == rows(path) and len(uri) == 8
