"""Segment serving path: bucket layout, pruned scan, serve_topk identity,
pure-Python xxhash64 parity."""

import pytest
from pyspark.sql import functions as F

from bertopic_spark.corpus import fixture_queries
from bertopic_spark.index.segments import (
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


def test_index_server_matches_cold_path_and_releases_cache(spark, seg_path):
    """Warm serving session (IndexServer): identical results to the cold
    serve_topk path, and the pinned relation is released on close()."""
    from bertopic_spark.index.segments import IndexServer

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
        # single-query serve against the cache too
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
