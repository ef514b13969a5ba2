"""Incremental index maintenance (index/incremental.py): append / delete /
compact must be rank- AND score-identical to a full rebuild over the
surviving documents — the property that makes the generational design safe
at 100 TB (the reference rebuilds from scratch instead,
``_bertopic.py:703-760``)."""

import shutil

import pytest
from pyspark.sql import functions as F

from bertopic_spark.index.incremental import IncrementalIndex
from bertopic_spark.operators.bm25 import (bm25_topk_adhoc, queries_df,
                                           query_terms)
from bertopic_spark.tokenizer import tokenize_one

QUERIES = {0: "table scan", 1: "hash join order", 2: "the slow query",
           3: "customer batch value"}
MODE = "ascii_code"


def _qt_map():
    return {q: sorted(set(tokenize_one(t, MODE))) for q, t in QUERIES.items()}


def _rebuild_topk(spark, docs, k=10, **weighting):
    qt = query_terms(queries_df(spark, QUERIES), MODE)
    t = bm25_topk_adhoc(docs, qt, k=k, text_col="text", mode=MODE,
                        **weighting)
    return [(r.query_id, r.doc_id, r.score, r["rank"])
            for r in t.orderBy("query_id", "rank").collect()]


def _inc_topk(idx, k=10, **scoring):
    t = idx.topk(_qt_map(), k=k, **scoring)
    return [(r.query_id, r.doc_id, r.score, r["rank"])
            for r in t.orderBy("query_id", "rank").collect()]


def _evens_odds_del17(spark, documents_df, root, **cfg):
    """Two appends (even, then odd doc ids) + one delete (every 17th)."""
    idx = IncrementalIndex.create(spark, root, mode=MODE, **cfg)
    idx.append(documents_df.filter(F.col("doc_id") % 2 == 0),
               text_col="text", id_col="doc_id")
    idx.append(documents_df.filter(F.col("doc_id") % 2 == 1),
               text_col="text", id_col="doc_id")
    idx.delete(documents_df.filter(F.col("doc_id") % 17 == 0),
               text_col="text", id_col="doc_id")
    return idx


@pytest.fixture(scope="module")
def built(spark, documents_df, tmp_path_factory):
    """Two appends + one delete over the sf0.001 documents table."""
    root = str(tmp_path_factory.mktemp("incidx"))
    shutil.rmtree(root)
    return _evens_odds_del17(spark, documents_df, root)


@pytest.mark.parametrize("bm25_weighting, reduce_frequent_words",
                         [(True, False), (True, True), (False, False),
                          (False, True)])
def test_append_delete_matches_rebuild(spark, documents_df, built, tmp_path,
                                       bm25_weighting, reduce_frequent_words):
    weighting = {"bm25_weighting": bm25_weighting,
                 "reduce_frequent_words": reduce_frequent_words}
    idx = built if (bm25_weighting, reduce_frequent_words) == (True, False) \
        else _evens_odds_del17(spark, documents_df, str(tmp_path / "idx"),
                               **weighting)
    surv = documents_df.filter(F.col("doc_id") % 17 != 0)
    ref = _rebuild_topk(spark, surv, **weighting)
    inc = _inc_topk(idx)
    assert [(q, d, r) for q, d, _, r in inc] == [
        (q, d, r) for q, d, _, r in ref]
    assert max(abs(a[2] - b[2]) for a, b in zip(inc, ref)) < 1e-9


@pytest.mark.parametrize("scorer", ["ctfidf", "okapi"])
def test_tombstoned_top_doc_is_masked(spark, tmp_path, scorer):
    """Doc 1 ranks first for "alpha" until it is deleted; after the delete
    the kernel's tombstone mask must drop it, and the rest must rank as a
    rebuild over the survivors does."""
    from bertopic_spark.operators.bm25 import okapi_bm25_topk

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha beta"), (3, "alpha beta gamma"),
         (4, "delta epsilon zeta theta iota kappa"),
         (5, "lambda sigma omega delta epsilon zeta")],
        "doc_id long, text string")
    idx = IncrementalIndex.create(spark, str(tmp_path / "tomb"), mode=MODE)
    idx.append(docs, text_col="text", id_col="doc_id")
    idx.delete(docs.filter("doc_id = 1"), text_col="text", id_col="doc_id")
    q = {0: ["alpha"]}
    before = idx.as_of(1).topk(q, k=3, scorer=scorer).collect()
    assert before[0]["doc_id"] == 1 and before[0]["rank"] == 1
    got = [(r.doc_id, r.score) for r in
           idx.topk(q, k=3, scorer=scorer).orderBy("rank").collect()]
    surv = docs.filter("doc_id != 1")
    qt = spark.createDataFrame([(0, "alpha")], "query_id long, term string")
    ref_fn = okapi_bm25_topk if scorer == "okapi" else bm25_topk_adhoc
    ref = [(r.doc_id, r.score) for r in
           ref_fn(surv, qt, k=3, text_col="text", mode=MODE)
           .orderBy("rank").collect()]
    assert [d for d, _ in got] == [d for d, _ in ref] == [2, 3]
    for (_, a), (_, b) in zip(got, ref):
        assert a == pytest.approx(b, abs=1e-12)


def test_tombstones_union_without_a_shuffle(spark, tmp_path):
    """Two delete generations: the tombstone relation is their plain
    union (already distinct, as delete refuses a tombstoned id), its
    executed plan holds no Exchange, and topk masks every id in it."""
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha beta"), (3, "alpha beta gamma"),
         (4, "alpha delta"), (5, "beta gamma")], "doc_id long, text string")
    idx = IncrementalIndex.create(spark, str(tmp_path / "tombs"), mode=MODE)
    idx.append(docs, text_col="text", id_col="doc_id")
    idx.delete(docs.filter("doc_id = 1"), text_col="text", id_col="doc_id")
    idx.delete(docs.filter("doc_id in (2, 3)"), text_col="text",
               id_col="doc_id")
    tomb = idx.tombstones()
    assert sorted(r["doc_id"] for r in tomb.collect()) == [1, 2, 3]
    plan = tomb._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    got = [r.doc_id for r in
           idx.topk({0: ["alpha"]}, k=5).orderBy("rank").collect()]
    assert got == [4]


def test_generation_misuse_raises_naming_the_path(spark, tmp_path):
    """A generation tree is not a scored tree, and an index written before
    generations carried their document length cannot be read."""
    import json

    from bertopic_spark.index.checkpoint import MANIFEST
    from bertopic_spark.index.segments import serve_topk

    root = str(tmp_path / "gens")
    idx = IncrementalIndex.create(spark, root, mode=MODE)
    idx.append(spark.createDataFrame([(1, "alpha beta")],
                                     "doc_id long, text string"),
               text_col="text", id_col="doc_id")
    tree = f"{root}/gen-00000/segments"
    with pytest.raises(ValueError, match=f"{tree}.*'gen_blocks' tree"):
        serve_topk(spark, tree, {0: ["alpha"]})

    # an older index: no format in its config, "blocks" generation trees
    with open(f"{root}/gens.json") as f:
        m = json.load(f)
    del m["config"]["format"]
    with open(f"{root}/gens.json", "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match=f"{root}.*rebuild"):
        IncrementalIndex.open(spark, root)
    with open(f"{tree}/{MANIFEST}") as f:
        tm = json.load(f)
    tm["metrics"]["format"] = "blocks"
    with open(f"{tree}/{MANIFEST}", "w") as f:
        json.dump(tm, f)
    with pytest.raises(ValueError, match=f"{tree}.*not a 'gen_blocks' tree"):
        idx.topk({0: ["alpha"]})


def test_uri_root_matches_plain_path(spark, documents_df, asof_idx, tmp_path,
                                     monkeypatch):
    """A file:// root keeps its manifest under the URI, not under a
    relative ./file: directory, and answers as the plain-path index."""
    import os

    monkeypatch.chdir(tmp_path)
    root = f"file://{tmp_path}/uri_idx"
    _evens_odds_del17(spark, documents_df, root)
    idx = IncrementalIndex.open(spark, root)
    assert idx.status() == asof_idx.status()
    assert _inc_topk(idx) == _inc_topk(asof_idx)
    assert os.path.exists(f"{tmp_path}/uri_idx/gens.json")
    assert not os.path.exists(f"{tmp_path}/file:")
    idx.compact()
    assert IncrementalIndex.open(spark, root).status()["generations"] == 1
    assert sorted(os.listdir(f"{tmp_path}/uri_idx")) == ["gen-00003",
                                                         "gens.json"]


def test_open_resumes_from_manifest(spark, built):
    reopened = IncrementalIndex.open(spark, built.root)
    assert reopened.status() == built.status()
    assert _inc_topk(reopened) == _inc_topk(built)


def test_double_delete_raises(documents_df, built):
    with pytest.raises(ValueError, match="tombstoned"):
        built.delete(documents_df.filter(F.col("doc_id") == 17),
                     text_col="text", id_col="doc_id")


def test_id_collision_raises(documents_df, built):
    with pytest.raises(ValueError, match="already exist"):
        built.append(documents_df.limit(5), text_col="text", id_col="doc_id")


def test_compact_preserves_results(spark, documents_df, built):
    before = _inc_topk(built)
    st_before = built.status()
    entry = built.compact()
    assert entry["kind"] == "add"
    assert built.status()["generations"] == 1
    assert built.status()["n_classes"] == st_before["n_classes"]
    assert built.status()["sum_len"] == st_before["sum_len"]
    after = _inc_topk(built)
    assert [(q, d, r) for q, d, _, r in after] == [
        (q, d, r) for q, d, _, r in before]
    assert max(abs(a[2] - b[2]) for a, b in zip(after, before)) < 1e-12
    # still matches a rebuild of the survivors
    surv = documents_df.filter(F.col("doc_id") % 17 != 0)
    ref = _rebuild_topk(spark, surv)
    assert [(q, d, r) for q, d, _, r in after] == [
        (q, d, r) for q, d, _, r in ref]


def test_empty_index_and_oov_terms(spark, tmp_path):
    root = str(tmp_path / "empty")
    idx = IncrementalIndex.create(spark, root, mode=MODE)
    assert idx.topk(_qt_map()).count() == 0
    assert idx.topk({}).count() == 0
    assert idx.status()["live_docs"] == 0


def test_auto_id_assignment_disjoint(spark, corpus_df, tmp_path):
    root = str(tmp_path / "auto")
    idx = IncrementalIndex.create(spark, root, mode=MODE)
    half = corpus_df.limit(40)
    e1 = idx.append(half, text_col="content",
                    order_cols=["repo", "path", "commit"])
    e2 = idx.append(corpus_df.limit(80).subtract(half), text_col="content",
                    order_cols=["repo", "path", "commit"])
    assert e1["id_min"] == 0 and e1["id_max"] == e1["n_rows"] - 1
    assert e2["id_min"] == e1["id_max"] + 1
    assert idx.status()["live_docs"] == e1["n_rows"] + e2["n_rows"]


def test_sha_invariant_checked_on_append(spark, corpus_df, tmp_path):
    root = str(tmp_path / "sha")
    idx = IncrementalIndex.create(spark, root, mode=MODE)
    idx.append(corpus_df.limit(20), text_col="content", id_col="doc_id",
               sha_col="content_sha")
    corrupted = corpus_df.limit(20).withColumn(
        "content", F.concat(F.col("content"), F.lit("x")))
    with pytest.raises(ValueError, match="sha mismatch"):
        IncrementalIndex.create(spark, str(tmp_path / "sha2"), mode=MODE) \
            .append(corrupted, text_col="content", id_col="doc_id",
                    sha_col="content_sha")


def test_stream_append_matches_batch(spark, documents_df, tmp_path):
    """Structured Streaming ingest (foreachBatch → append) must produce the
    same ranking as batch appends of the same documents, and a re-run of
    the same stream must be a no-op (checkpoint + marker idempotency)."""
    import os

    from bertopic_spark.streaming.incremental import stream_append_index

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "idx")
    schema = "doc_id long, text string"
    half = documents_df.select("doc_id", "text")
    half.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(inp)

    idx = IncrementalIndex.create(spark, root, mode=MODE)
    q = stream_append_index(spark, inp, idx, "text", "doc_id", schema, ckpt)
    q.awaitTermination(120)
    half.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(inp)
    q = stream_append_index(spark, inp, idx, "text", "doc_id", schema, ckpt)
    q.awaitTermination(120)

    idx = IncrementalIndex.open(spark, root)  # manifest round-trip
    assert len(idx.manifest["gens"]) >= 2
    assert _inc_topk(idx) == _rebuild_topk(spark, documents_df)
    markers = [f for f in os.listdir(root) if f.startswith("stream_batch_")]
    assert markers  # replay guards written after each committed generation

    # re-running the finished stream appends nothing
    n_gens = len(idx.manifest["gens"])
    q = stream_append_index(spark, inp, idx, "text", "doc_id", schema, ckpt)
    q.awaitTermination(120)
    assert len(IncrementalIndex.open(spark, root).manifest["gens"]) == n_gens


def test_stream_markers_on_uri_root(spark, documents_df, tmp_path,
                                    monkeypatch):
    """On a file:// root the replay markers land under the root (not in a
    relative ./file: directory), and a batch id replayed from a fresh
    stream checkpoint appends nothing."""
    import os

    from bertopic_spark.streaming.incremental import stream_append_index

    monkeypatch.chdir(tmp_path)
    inp = str(tmp_path / "in")
    documents_df.select("doc_id", "text").write.parquet(inp)
    schema = "doc_id long, text string"
    root = f"file://{tmp_path}/uri_stream"
    idx = IncrementalIndex.create(spark, root, mode=MODE)
    stream_append_index(spark, inp, idx, "text", "doc_id", schema,
                        str(tmp_path / "ckpt1")).awaitTermination(120)
    markers = [f for f in os.listdir(tmp_path / "uri_stream")
               if f.startswith("stream_batch_")]
    assert "stream_batch_0.done" in markers
    n_gens = len(IncrementalIndex.open(spark, root).manifest["gens"])
    assert n_gens == len(markers)
    # a fresh checkpoint restarts the batch ids at 0: the markers skip them
    stream_append_index(spark, inp, IncrementalIndex.open(spark, root),
                        "text", "doc_id", schema,
                        str(tmp_path / "ckpt2")).awaitTermination(120)
    assert len(IncrementalIndex.open(spark, root).manifest["gens"]) == n_gens
    assert not os.path.exists(tmp_path / "file:")


@pytest.fixture(scope="module")
def asof_idx(spark, documents_df, tmp_path_factory):
    """Own index: the shared ``built`` fixture is compacted (history
    expired) by test_compact_preserves_results — exactly the contract
    as_of documents — so time-travel tests need unexpired generations."""
    root = str(tmp_path_factory.mktemp("asofidx"))
    shutil.rmtree(root)
    idx = IncrementalIndex.create(spark, root, mode=MODE)
    idx.append(documents_df.filter(F.col("doc_id") % 2 == 0),
               text_col="text", id_col="doc_id")
    idx.append(documents_df.filter(F.col("doc_id") % 2 == 1),
               text_col="text", id_col="doc_id")
    idx.delete(documents_df.filter(F.col("doc_id") % 17 == 0),
               text_col="text", id_col="doc_id")
    return idx


def test_asof_snapshot_views(spark, documents_df, asof_idx):
    # as-of the first generation: only the even half, scored AS ITS OWN
    # corpus (idf/avg-len from that snapshot alone)
    evens = documents_df.filter(F.col("doc_id") % 2 == 0)
    assert _inc_topk(asof_idx.as_of(1)) == _rebuild_topk(spark, evens)
    # as-of generation 2: both halves, before the tombstone delete
    assert _inc_topk(asof_idx.as_of(2)) == _rebuild_topk(spark, documents_df)
    # as-of the full history == the live index
    assert _inc_topk(asof_idx.as_of(3)) == _inc_topk(asof_idx)
    # empty snapshot
    assert _inc_topk(asof_idx.as_of(0)) == []
    assert asof_idx.as_of(0).status()["generations"] == 0


def test_asof_views_are_frozen(documents_df, asof_idx):
    view = asof_idx.as_of(1)
    with pytest.raises(ValueError, match="read-only"):
        view.append(documents_df.limit(1), text_col="text", id_col="doc_id")
    with pytest.raises(ValueError, match="read-only"):
        view.delete(documents_df.limit(1), text_col="text", id_col="doc_id")
    with pytest.raises(ValueError, match="read-only"):
        view.compact()
    with pytest.raises(ValueError, match="out of range"):
        asof_idx.as_of(99)
    # the live index stays mutable and unchanged by the view
    assert len(asof_idx.manifest["gens"]) == 3


def test_compact_expires_asof_history(spark, documents_df, tmp_path):
    root = str(tmp_path / "expidx")
    idx = IncrementalIndex.create(spark, root, mode=MODE)
    idx.append(documents_df.filter(F.col("doc_id") % 2 == 0),
               text_col="text", id_col="doc_id")
    idx.append(documents_df.filter(F.col("doc_id") % 2 == 1),
               text_col="text", id_col="doc_id")
    idx.compact()
    # history is expired: only the single compacted snapshot remains
    assert len(idx.manifest["gens"]) == 1
    assert _inc_topk(idx.as_of(1)) == _inc_topk(idx)


def test_okapi_scorer_matches_adhoc_over_survivors(spark, documents_df, asof_idx):
    from bertopic_spark.operators.bm25 import okapi_bm25_topk, queries_df, query_terms

    surv = documents_df.filter(F.col("doc_id") % 17 != 0)
    qt = query_terms(queries_df(spark, QUERIES), MODE)
    ref = [(r.query_id, r.doc_id, r["rank"]) for r in
           okapi_bm25_topk(surv, qt, k=10, text_col="text", mode=MODE)
           .orderBy("query_id", "rank").collect()]
    ref_scores = [r.score for r in
                  okapi_bm25_topk(surv, qt, k=10, text_col="text", mode=MODE)
                  .orderBy("query_id", "rank").collect()]
    got_rows = (asof_idx.topk(_qt_map(), k=10, scorer="okapi")
                .orderBy("query_id", "rank").collect())
    got = [(r.query_id, r.doc_id, r["rank"]) for r in got_rows]
    assert got == ref  # rank-identical: one index, two ranking models
    for a, b in zip((r.score for r in got_rows), ref_scores):
        assert a == pytest.approx(b, abs=1e-9)


def test_okapi_scorer_rejects_unknown(asof_idx):
    with pytest.raises(ValueError, match="unknown scorer"):
        asof_idx.topk(_qt_map(), scorer="tfidf")


def test_changes_between_cdc(spark, documents_df, asof_idx):
    # window (1, 3]: odds added, 17ths deleted; odd 17ths net out
    got = {(r["doc_id"], r["change"]) for r in
           asof_idx.changes_between(1, 3).collect()}
    ids = [r["doc_id"] for r in documents_df.select("doc_id").collect()]
    want = {(i, "added") for i in ids if i % 2 == 1 and i % 17 != 0}
    want |= {(i, "deleted") for i in ids if i % 2 == 0 and i % 17 == 0}
    assert got == want
    # empty window; full window sanity
    assert asof_idx.changes_between(2, 2).count() == 0
    full = {c for _, c in got}
    assert full == {"added", "deleted"}
    with pytest.raises(ValueError):
        asof_idx.changes_between(3, 1)


def test_changes_between_tombstone_of_unindexed_is_invisible(spark, tmp_path):
    root = str(tmp_path / "cdcguard")
    idx = IncrementalIndex.create(spark, root, mode=MODE)
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string")
    idx.append(docs, text_col="text", id_col="doc_id")
    # tombstone a doc the index never contained: a no-op to every snapshot
    ghost = spark.createDataFrame([(99, "zzz")], "doc_id long, text string")
    idx.delete(ghost, text_col="text", id_col="doc_id")
    got = {(r["doc_id"], r["change"]) for r in
           idx.changes_between(1, 2).collect()}
    assert got == set()  # the ghost tombstone must NOT surface as deleted
    full = {(r["doc_id"], r["change"]) for r in
            idx.changes_between(0, 2).collect()}
    assert full == {(1, "added"), (2, "added")}
