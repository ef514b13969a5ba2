"""Degenerate-input probes for the serving and build paths: empty query,
OOV-only query, NULL content, empty corpus, single-class corpus.

These document the engine's contract at the edges a 100-TB crawl WILL hit
(nulls and empties are routine at scale); each probe asserts either a sane
empty result or a clear error — never a silent wrong answer.
"""

import os

import pytest
from pyspark.sql import functions as F

from bertopic_spark.index.segments import (
    IndexServer,
    build_block_index,
    serve_topk,
    write_index_segments,
)
from bertopic_spark.operators.bm25 import doc_scores
from bertopic_spark.operators.ctfidf import ctfidf
from bertopic_spark.operators.postings import class_term_counts, doc_term_counts

SPAN = 64

CORPUS_SCHEMA = (
    "repo string, path string, commit string, content string, doc_id long"
)


@pytest.fixture(scope="module")
def tiny_seg(spark, tmp_path_factory):
    rows = [
        ("r", f"f{i}.py", "c0", f"def handler_{i}(): return widget_{i % 3}", i)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, CORPUS_SCHEMA)
    scores = doc_scores(df, mode="ascii_code")
    path = str(tmp_path_factory.mktemp("edge") / "seg")
    write_index_segments(build_block_index(scores, SPAN), path, n_buckets=4)
    return path


def test_empty_query_batch(spark, tiny_seg):
    """Empty batch → empty result with the serving schema, not a crash."""
    out = serve_topk(spark, tiny_seg, {}, k=5)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "doc_id", "score", "rank"}
    with IndexServer(spark, tiny_seg) as srv:
        assert srv.topk({}, k=5).count() == 0


def test_oov_only_query_and_mixed_batch(spark, tiny_seg):
    """A query of only out-of-vocabulary terms returns no rows for that
    query while the rest of the batch is unaffected."""
    oov = {7: ["zzzqx", "notaterm99"]}
    assert serve_topk(spark, tiny_seg, oov, k=5).count() == 0
    mixed = {1: ["handler_1"], 7: ["zzzqx"]}
    got = serve_topk(spark, tiny_seg, mixed, k=5).collect()
    assert {r["query_id"] for r in got} == {1}


def test_k_below_one_raises(spark, tiny_seg, tmp_path):
    """k < 1 is refused by every entry to the top-k kernel, before any
    answer is computed (the kernel's slice would otherwise return every
    candidate but the last for k=-1)."""
    from bertopic_spark.index.incremental import IncrementalIndex

    idx = IncrementalIndex.create(spark, str(tmp_path / "inc"))
    idx.append(spark.createDataFrame([(1, "def handler_1")],
                                     "doc_id long, content string"),
               id_col="doc_id")
    with IndexServer(spark, tiny_seg) as srv:
        for k in (0, -1):
            with pytest.raises(ValueError, match="k=") as e:
                serve_topk(spark, tiny_seg, {1: ["handler_1"]}, k=k)
            assert f"k={k}" in str(e.value)
            with pytest.raises(ValueError, match=f"k={k}"):
                srv.topk({1: ["handler_1"]}, k=k)
            with pytest.raises(ValueError, match=f"k={k}"):
                idx.topk({1: ["handler_1"]}, k=k)


@pytest.fixture(scope="module")
def sparse_seg(spark, tmp_path_factory):
    """The 20-doc tiny corpus spread over 64 buckets: most bucket
    directories do not exist."""
    rows = [
        ("r", f"f{i}.py", "c0", f"def handler_{i}(): return widget_{i % 3}", i)
        for i in range(20)
    ]
    scores = doc_scores(spark.createDataFrame(rows, CORPUS_SCHEMA), mode="ascii_code")
    path = str(tmp_path_factory.mktemp("sparse") / "seg")
    write_index_segments(build_block_index(scores, SPAN), path, n_buckets=64)
    return path


def test_query_on_absent_buckets(spark, sparse_seg):
    """Terms whose buckets have no directory read as an empty scan: the
    query returns no rows with the serving schema, and a mixed batch still
    answers its other queries, cold and warm."""
    from bertopic_spark.index.segments import term_bucket

    present = {int(d.split("=")[1]) for d in os.listdir(sparse_seg)
               if d.startswith("bucket=")}
    assert len(present) < 64
    absent = [t for t in (f"nowhere{i}" for i in range(200))
              if term_bucket(t, 64) not in present][:2]
    assert len(absent) == 2
    out = serve_topk(spark, sparse_seg, {7: absent}, k=5)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "doc_id", "score", "rank"}
    mixed = {1: ["handler_1"], 2: ["widget_2", absent[0]], 7: absent}
    cold = serve_topk(spark, sparse_seg, mixed, k=5)
    with IndexServer(spark, sparse_seg) as srv:
        warm = srv.topk(mixed, k=5).collect()
    for got in (cold.collect(), warm):
        by_q = {}
        for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(r["query_id"], []).append(r["doc_id"])
        assert by_q == {1: [1], 2: [2, 5, 8, 11, 14]}


@pytest.fixture(scope="module")
def seg16(spark, tmp_path_factory):
    """The 20-doc tiny corpus as a 16-bucket tree (the readers' old
    default was 64), with its scored postings for the oracle."""
    rows = [
        ("r", f"f{i}.py", "c0", f"def handler_{i}(): return widget_{i % 3}", i)
        for i in range(20)
    ]
    scores = doc_scores(spark.createDataFrame(rows, CORPUS_SCHEMA),
                        mode="ascii_code").persist()
    path = str(tmp_path_factory.mktemp("seg16") / "seg")
    write_index_segments(build_block_index(scores, SPAN), path, n_buckets=16)
    yield path, scores
    scores.unpersist()


def test_tree_serves_with_its_own_bucket_count(spark, seg16):
    """A 16-bucket tree read with no format arguments returns the full
    answer: serve_topk, IndexServer.topk and pruned_block_scan take the
    bucket count from the manifest and the span from the payload tag."""
    from bertopic_spark.index.segments import pruned_block_scan
    from bertopic_spark.operators.bm25 import bm25_topk

    path, scores = seg16
    qts = {i: [f"handler_{i}", f"widget_{i % 3}"] for i in range(8)}
    qts[10] = ["def", "return"]
    qt = spark.createDataFrame(
        [(q, t) for q, ts in qts.items() for t in ts], "query_id long, term string")

    def ranked(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"]))
        return {q: sorted(v) for q, v in out.items()}

    want = ranked(bm25_topk(scores, qt, k=5))
    assert set(want) == set(qts)
    with IndexServer(spark, path) as srv:
        warm = ranked(srv.topk(qts, k=5))
    for got in (ranked(serve_topk(spark, path, qts, k=5)), warm):
        assert set(got) == set(want)
        for q in want:
            assert [(r, d) for r, d, _ in got[q]] == [(r, d) for r, d, _ in want[q]], q
            for (_, _, gs), (_, _, ws) in zip(got[q], want[q]):
                assert gs == pytest.approx(ws, abs=1e-12)
    terms = sorted({t for ts in qts.values() for t in ts})
    scanned = {(r["term"], r["blk"]) for r in
               pruned_block_scan(spark, path, terms).collect()}
    stored = {(r["term"], r["blk"]) for r in spark.read.parquet(path)
              .filter(F.col("term").isin(terms)).collect()}
    assert scanned == stored and len({t for t, _ in scanned}) == len(terms)


def test_tree_misuse_raises_naming_the_path(spark, seg16, tmp_path):
    """A tree without a manifest, a blocks frame without the payload tag
    and a manifest of an unknown format each fail loudly."""
    import json
    import shutil

    from bertopic_spark.index.positions import read_positions
    from bertopic_spark.index.segments import decode_blocks

    path, _ = seg16
    bare = str(tmp_path / "no_manifest")
    shutil.copytree(path, bare)
    os.remove(os.path.join(bare, "_MANIFEST.json"))
    with pytest.raises(FileNotFoundError, match="no_manifest"):
        serve_topk(spark, bare, {0: ["def"]}, k=5)

    untagged = spark.createDataFrame(
        [("def", 0, 1, 0, 0, 1.0, 1, bytearray(b"\x01\x00\x01"))],
        "term string, blk long, n_docs long, doc_min long, doc_max long, "
        "max_score double, sum_tf long, payload binary")
    with pytest.raises(ValueError, match="untagged"):
        write_index_segments(untagged, str(tmp_path / "untagged"))
    with pytest.raises(ValueError, match="no format tag"):
        decode_blocks(untagged)

    odd = str(tmp_path / "odd_format")
    shutil.copytree(path, odd)
    mpath = os.path.join(odd, "_MANIFEST.json")
    with open(mpath) as f:
        m = json.load(f)
    m["metrics"]["format"] = "blocks-v0"
    with open(mpath, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="odd_format.*unknown tree format"):
        serve_topk(spark, odd, {0: ["def"]}, k=5)
    with pytest.raises(ValueError, match="a 'blocks' tree"):
        read_positions(spark, path, ["def"])


def test_null_content_rows_drop_from_postings(spark):
    """NULL content tokenizes to a NULL array; explode drops the row — the
    doc is absent from the index (documented), everything else intact."""
    rows = [("r", "a.py", "c", "alpha beta", 0),
            ("r", "b.py", "c", None, 1),
            ("r", "c.py", "c", "alpha gamma", 2)]
    df = spark.createDataFrame(rows, CORPUS_SCHEMA)
    scores = doc_scores(df, mode="ascii_code", persist_counts=False)
    ids = {r["doc_id"] for r in scores.select("doc_id").distinct().collect()}
    assert ids == {0, 2}


def test_empty_corpus_builds_empty_index(spark, tmp_path):
    """Zero input rows → zero postings, a servable (empty) index, and no
    divide-by-zero from the avgdl aggregate."""
    df = spark.createDataFrame([], CORPUS_SCHEMA)
    scores = doc_scores(df, mode="ascii_code", persist_counts=False)
    assert scores.count() == 0
    path = str(tmp_path / "seg")
    write_index_segments(build_block_index(scores, SPAN), path, n_buckets=4)
    out = serve_topk(spark, path, {0: ["alpha"]}, k=5)
    assert out.count() == 0


def test_single_class_corpus_finite_scores(spark):
    """One class: idf and the avg-length normalizer degenerate but must
    stay finite (reference `_ctfidf.py` computes log(1 + A/tf) with A =
    avg class length — fine at k=1; nothing divides by (k-1))."""
    rows = [("r", f"f{i}.py", "c", "common shared tokens here", i)
            for i in range(5)]
    df = spark.createDataFrame(rows, CORPUS_SCHEMA).withColumn("cls", F.lit(0))
    dt = doc_term_counts(df, "content", ["cls"], "ascii_code")
    sc = ctfidf(class_term_counts(dt, ["cls"]), ["cls"])
    vals = [r["score"] for r in sc.collect()]
    assert vals and all(v is not None and abs(v) < float("inf") for v in vals)


# ---------------------------------------------------------------------------
# Round-3 retrieval/pipeline operators at the edges
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def edge_docs(spark):
    rows = [
        (0, "the customer placed an order for the table", "en", "s1"),
        (1, None, "en", "s1"),                       # NULL text
        (2, "", "de", "s2"),                         # empty text
        (3, "order order order order order", "de", None),  # NULL field 2
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")


def test_new_ops_null_and_empty_text(spark, edge_docs):
    from bertopic_spark.operators.bm25 import (bm25_topk_stratified,
                                               bm25f_topk, passage_topk,
                                               queries_df, query_terms)
    from bertopic_spark.operators.fulltext import proximity_match
    from bertopic_spark.operators.pipeline import training_shards
    from bertopic_spark.operators.textstats import gopher_filter, pack_shards

    qt = query_terms(queries_df(spark, {0: "customer order"}), "ascii_code")
    # NULL/empty docs simply never match; no crash, no NULL rows
    assert proximity_match(edge_docs, ["customer", "order"], 10,
                           "text").count() == 1
    p = passage_topk(edge_docs, qt, window=4, stride=2, k=10,
                     text_col="text")
    assert {r.doc_id for r in p.collect()} == {0, 3}
    f = bm25f_topk(edge_docs, qt, {"text": 1.0, "source": 2.0}, k=10)
    assert {r.doc_id for r in f.collect()} == {0, 3}
    s = bm25_topk_stratified(edge_docs, qt, "lang", k=10, text_col="text")
    assert {(r.lang, r.doc_id) for r in s.collect()} == {("en", 0), ("de", 3)}
    # NULL/empty text packs as 0 tokens but keeps its row
    ps = {r.doc_id: (r.n_tokens, r.shard_id)
          for r in pack_shards(edge_docs, 6, text_col="text").collect()}
    assert ps[1] == (0, 1) and ps[2] == (0, 1)
    assert ps[0][0] == 8 and ps[0][1] == 0
    # gopher drops all four (too short), so the pipeline yields no shards
    assert gopher_filter(edge_docs).filter("keep").count() == 0
    assert training_shards(edge_docs, 100, text_col="text").count() == 0


def test_new_ops_empty_corpus(spark, edge_docs):
    from bertopic_spark.operators.bm25 import (bm25f_topk, passage_topk,
                                               prf_expand_topk, queries_df,
                                               query_terms)
    from bertopic_spark.operators.fulltext import (proximity_match,
                                                   term_associations)
    from bertopic_spark.operators.textstats import pack_shards

    empty = edge_docs.limit(0)
    qdf = queries_df(spark, {0: "customer order"})
    qt = query_terms(qdf, "ascii_code")
    assert proximity_match(empty, ["a1", "b2"], 5, "text").count() == 0
    assert passage_topk(empty, qt, 4, 2, text_col="text").count() == 0
    assert bm25f_topk(empty, qt, {"text": 1.0}).count() == 0
    assert prf_expand_topk(empty, qdf, text_col="text").count() == 0
    assert pack_shards(empty, 10, text_col="text").count() == 0
    assert term_associations(empty, ["customer"]).count() == 0


def test_lm_and_ltr_edge_probes(spark):
    from bertopic_spark.operators.bm25 import lm_topk, ltr_features

    corpus = spark.createDataFrame(
        [("r", "f.py", "c0", "alpha beta", 0)], CORPUS_SCHEMA)
    empty_q = spark.createDataFrame([], "query_id long, term string")
    assert lm_topk(corpus, empty_q, text_col="content").count() == 0
    assert ltr_features(corpus, empty_q, text_col="content").count() == 0
    oov_q = spark.createDataFrame([(0, "zzz")], "query_id long, term string")
    assert lm_topk(corpus, oov_q, text_col="content").count() == 0
    assert ltr_features(corpus, oov_q, text_col="content").count() == 0
    empty_c = spark.createDataFrame([], CORPUS_SCHEMA)
    q = spark.createDataFrame([(0, "alpha")], "query_id long, term string")
    assert lm_topk(empty_c, q, text_col="content").count() == 0


def test_tiered_edge_probes(spark):
    from bertopic_spark.operators.bm25 import tiered_bm25_topk

    empty_scores = spark.createDataFrame(
        [], "term string, doc_id long, score double")
    q = spark.createDataFrame([(0, "alpha")], "query_id long, term string")
    rep = {}
    # empty index: every query escalates, exhaustive over empty = empty
    assert tiered_bm25_topk(empty_scores, q, k=3, m=4,
                            _report_out=rep).count() == 0
    assert rep["escalated"] == [0]
    # empty query batch
    empty_q = spark.createDataFrame([], "query_id long, term string")
    scores = spark.createDataFrame([("alpha", 0, 1.0)],
                                   "term string, doc_id long, score double")
    assert tiered_bm25_topk(scores, empty_q, k=3, m=4).count() == 0


def test_graph_edge_probes(spark):
    from bertopic_spark.operators.graph import (cooccurrence_edges,
                                                textrank_keywords)

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert cooccurrence_edges(empty_docs, "text", "doc_id").count() == 0
    assert textrank_keywords(empty_docs, "text", "doc_id").count() == 0
    # single-term docs: no pairs, empty graph, empty keywords
    solo = spark.createDataFrame([(i, "alpha") for i in range(5)],
                                 "doc_id long, text string")
    assert cooccurrence_edges(solo, "text", "doc_id").count() == 0
    assert textrank_keywords(solo, "text", "doc_id").count() == 0
    # null text rows contribute nothing and do not crash
    nulls = spark.createDataFrame([(0, "alpha beta"), (1, None)],
                                  "doc_id long, text string")
    assert cooccurrence_edges(nulls, "text", "doc_id").count() == 1


def test_round3_batch_edge_probes(spark, edge_docs):
    from bertopic_spark.operators.bm25 import (boosting_topk, dismax_topk,
                                               queries_df, query_terms,
                                               rescore_topk)
    from bertopic_spark.operators.fulltext import span_near_match
    from bertopic_spark.operators.pipeline import (domain_mix_plan,
                                                   domain_mix_sample)
    from bertopic_spark.operators.sketch import (histogram_quantiles,
                                                 histogram_sketch)

    qt = query_terms(queries_df(spark, {0: "customer order"}), "ascii_code")
    empty = edge_docs.limit(0)

    # NULL/empty text never matches; empty corpus yields empty top-k
    assert span_near_match(edge_docs, ["customer", "order"], 5,
                           "text").count() == 1
    assert span_near_match(empty, ["customer", "order"], 5,
                           "text").count() == 0
    got = rescore_topk(edge_docs, qt, k=2, window_size=2, text_col="text")
    assert {r.doc_id for r in got.collect()} <= {0, 3} and got.count() > 0
    assert rescore_topk(empty, qt, k=2, window_size=2,
                        text_col="text").count() == 0
    dm = dismax_topk(edge_docs, qt, ["text", "source"], k=5)
    assert {r.doc_id for r in dm.collect()} == {0, 3}
    assert dismax_topk(empty, qt, ["text"], k=5).count() == 0
    bq = boosting_topk(edge_docs, qt, ["table"], negative_boost=0.1,
                       k=5, text_col="text")
    flags = {r.doc_id: r.demoted for r in bq.collect()}
    assert flags.get(0) is True and flags.get(3) is False
    assert boosting_topk(empty, qt, ["table"], text_col="text").count() == 0

    # histogram: empty input → empty sketch → empty quantiles (no crash)
    sk = histogram_sketch(empty, "doc_id", 0.0, 10.0, 5)
    assert sk.count() == 0
    assert histogram_quantiles(sk, [0.5], 0.0, 10.0, 5).count() == 0

    # domain mix: NULL domain rows group under NULL and stay consistent;
    # empty corpus → empty plan and sample
    plan = domain_mix_plan(edge_docs, "lang", "doc_id", budget=10.0)
    assert plan.count() == 2
    assert domain_mix_plan(empty, "lang", "doc_id", budget=1.0).count() == 0
    assert domain_mix_sample(
        empty, plan, "lang", "doc_id").count() == 0


# -- round-3 additions: RM3, impact serving, multi-fragment snippets, --------
# -- coherence metrics --------------------------------------------------------


@pytest.fixture(scope="module")
def mini_docs(spark):
    rows = [(i, f"alpha beta gamma_{i % 2} delta") for i in range(6)]
    return spark.createDataFrame(rows, "doc_id long, content string")


def test_rm3_oov_only_query_is_empty(spark, mini_docs):
    """Every query term OOV → no candidates in round 1, no feedback docs,
    empty result — not a crash, not a prior-only ranking."""
    from bertopic_spark.operators.bm25 import queries_df, rm3_topk

    out = rm3_topk(mini_docs, queries_df(spark, {0: "zzz_never_seen"}), mu=50.0)
    assert out.count() == 0


def test_impact_empty_query_terms(spark, mini_docs):
    from bertopic_spark.operators.bm25 import (doc_scores, impact_topk,
                                               quantize_impacts)

    imp, meta = quantize_impacts(doc_scores(mini_docs))
    qt = spark.createDataFrame([], "query_id long, term string")
    out = impact_topk(imp, meta, qt, k=5)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "doc_id", "score", "err_bound",
                                "rank"}


def test_top_snippets_null_and_empty_text(spark):
    from bertopic_spark.operators.fulltext import top_snippets

    d = spark.createDataFrame(
        [(0, None), (1, ""), (2, "alpha beta alpha")],
        "doc_id long, text string")
    out = top_snippets(d, ["alpha"], n_fragments=2, window=2).collect()
    assert {r["doc_id"] for r in out} == {2}


def test_coherence_single_doc_and_disjoint_vocab(spark):
    """One doc: every top-k pair co-occurs everywhere → u_mass pairs are
    ln((1+1)/1); a topic whose words never co-occur stays defined (NPMI
    −1 per pair)."""
    import math

    from bertopic_spark.operators.evaluation import npmi_coherence, umass_coherence

    dt = spark.createDataFrame([(1, "aa"), (1, "bb")], "doc_id long, term string")
    topk = spark.createDataFrame(
        [("t", 1, "aa", 2.0), ("t", 2, "bb", 1.0)],
        "topic string, rank int, term string, score double")
    u = umass_coherence(topk, dt, ["topic"]).collect()[0]["coherence"]
    assert abs(u - round(math.log(2.0), 6)) < 1e-9
    n = npmi_coherence(topk, dt, ["topic"]).collect()[0]["coherence"]
    assert n == 1.0  # co-occur in every (the only) doc


def test_auto_reduce_single_topic_noop(spark, mini_docs):
    from bertopic_spark.model import BERTopicSpark

    m = BERTopicSpark(class_cols=["topic"]).fit(
        mini_docs.withColumn("topic", F.lit(0)), "content", "doc_id")
    out = m.reduce_topics("auto", distance_threshold=1.0)
    assert out is m and not m.mappings_


def _gate_vs_oracle(spark, sf_dir, spark_df, sql):
    """Rows of a registry gate on Spark against its oracle SQL on DuckDB
    over the parquet tables in ``sf_dir``; returns the oracle's rows."""
    import oracle_crosscheck as oc

    con = oc.duckdb_con(sf_dir)
    duck = con.sql(sql).df()
    con.close()
    errs = oc.compare("gate", spark_df.toPandas(), duck)
    assert not errs, errs
    return duck


def test_common_terms_gate_counts_token_empty_docs(spark, tmp_path):
    """"table" is in 9 of the 10 documents that have tokens, above the
    0.78 cutoff over those 10 (8) but not over all 12 rows (10): the two
    token-empty rows decide whether "table" admits candidates, so the
    gate and its oracle must count the same population."""
    import pandas as pd

    from bertopic_spark.entry_queries import (SQL_COMMON_TERMS,
                                              q_common_terms_topk)

    texts = [f"table filler{i} " * (1 + i % 3) for i in range(9)]
    texts += ["scan alone here", "", "!!! ---"]
    pd.DataFrame({
        "doc_id": list(range(len(texts))), "text": texts,
        "lang": "python", "source": "s",
        "n_chars": [len(t) for t in texts],
    }).to_parquet(tmp_path / "documents.parquet", index=False)
    got = q_common_terms_topk(spark, str(tmp_path))
    duck = _gate_vs_oracle(spark, str(tmp_path), got, SQL_COMMON_TERMS)
    # "table" is rare over all rows, so it admits docs without "scan"
    assert set(duck[duck.query_id == 0].doc_id) == set(range(10))


def test_neardup_lsh_gate_caps_like_its_oracle(spark, tmp_path):
    """Six copies of one vector share a bucket in every LSH table; under a
    cap of 4 that bucket is oversized, so none of the copies pair, while
    two distinct near-duplicates in small buckets still do. Gate and
    oracle must apply the same cap."""
    import pandas as pd

    from bertopic_spark.entry_queries import (_sql_embedding_neardup_lsh,
                                              q_embedding_neardup_lsh)

    vecs = [[1.0, 2, 3, 4, 5, 6, 7, 8]] * 6
    vecs += [[0.0, 0, 0, 0, 0, 0, 0, 1], [0.0, 0, 0, 0, 0, 0, 0.01, 1],
             [-8.0, 7, -6, 5, -4, 3, -2, 1]]
    pd.DataFrame({"vec_id": list(range(len(vecs))), "embedding": vecs,
                  "label": 0}).to_parquet(tmp_path / "embeddings.parquet",
                                          index=False)
    sf = str(tmp_path)
    uncapped = _gate_vs_oracle(
        spark, sf, q_embedding_neardup_lsh(spark, sf),
        _sql_embedding_neardup_lsh())
    capped = _gate_vs_oracle(
        spark, sf, q_embedding_neardup_lsh(spark, sf, max_bucket=4),
        _sql_embedding_neardup_lsh(max_bucket=4))
    pairs = set(zip(capped.id_a, capped.id_b))
    assert (6, 7) in pairs
    assert min(a for a, _ in pairs) >= 6  # no pair of or with a copy
    assert (0, 1) in set(zip(uncapped.id_a, uncapped.id_b))
