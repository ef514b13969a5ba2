"""Incremental/online maintenance (ST1-ST4) + Structured Streaming ingest."""

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from bertopic_spark.streaming.incremental import (
    IncrementalIndex,
    decayed_update,
    stream_ingest,
    vocab_union,
)


def test_vocab_union_assigns_fresh_dense_ids(spark):
    vocab = spark.createDataFrame([("aa", 0), ("bb", 1)], "term string, term_id long")
    new = spark.createDataFrame([("bb",), ("cc",), ("dd",)], "term string")
    out = {r["term"]: r["term_id"] for r in vocab_union(vocab, new).collect()}
    assert out == {"aa": 0, "bb": 1, "cc": 2, "dd": 3}


def test_vocab_union_from_empty(spark):
    vocab = spark.createDataFrame([], "term string, term_id long")
    new = spark.createDataFrame([("x",), ("y",)], "term string")
    out = {r["term"]: r["term_id"] for r in vocab_union(vocab, new).collect()}
    assert out == {"x": 0, "y": 1}


def test_decayed_update_math(spark):
    # _online_cv.py:132-135 semantics: X*(1-decay) + X_new
    state = spark.createDataFrame(
        [("t0", "aa", 10.0), ("t0", "bb", 4.0)], "topic string, term string, tf double")
    batch = spark.createDataFrame(
        [("t0", "aa", 2), ("t1", "aa", 1)], "topic string, term string, tf long")
    out = {(r["topic"], r["term"]): r["tf"]
           for r in decayed_update(state, batch, decay=0.5).collect()}
    assert out[("t0", "aa")] == pytest.approx(10 * 0.5 + 2)
    assert out[("t0", "bb")] == pytest.approx(2.0)
    assert out[("t1", "aa")] == pytest.approx(1.0)


def test_decayed_update_prunes_min_df(spark):
    state = spark.createDataFrame(
        [("t0", "rare", 0.5), ("t0", "keep", 5.0)], "topic string, term string, tf double")
    batch = spark.createDataFrame([], "topic string, term string, tf long")
    out = {r["term"] for r in
           decayed_update(state, batch, decay=0.0, delete_min_df=1.0).collect()}
    assert out == {"keep"}  # _online_cv.py:139-158: columns shrink only


def test_incremental_index_matches_one_shot(spark, documents_df, tmp_path):
    """Invariant from the reference's online tests: accumulating batches
    with decay=0 equals the one-shot build."""
    from bertopic_spark.operators.postings import class_term_counts, doc_term_counts

    idx = IncrementalIndex(spark, str(tmp_path / "inc"), class_cols=("lang",))
    b1 = documents_df.filter("doc_id % 2 = 0")
    b2 = documents_df.filter("doc_id % 2 = 1")
    idx.partial_fit(b1, "text", ["lang"])
    idx.partial_fit(b2, "text", ["lang"])
    got = {(r["lang"], r["term"]): r["tf"] for r in idx.state().collect()}
    want_df = class_term_counts(
        doc_term_counts(documents_df, "text", ["lang", "doc_id"], "ascii_code"), ["lang"])
    want = {(r["lang"], r["term"]): float(r["tf"]) for r in want_df.collect()}
    assert got == want
    # vocab is dense 0..n-1 and covers every term
    vocab = {r["term"]: r["term_id"] for r in idx.vocab().collect()}
    assert sorted(vocab.values()) == list(range(len(vocab)))
    assert set(vocab) == {t for _, t in want}
    # scores come out of the accumulated state
    assert idx.scores().count() == len(want)


def test_incremental_index_on_a_uri_root(spark, documents_df, tmp_path,
                                         monkeypatch):
    """A file:// root keeps the state across batches exactly as a plain
    path does (each batch reads the state the previous one wrote), and no
    "file:" directory appears in the working directory."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    b1 = documents_df.filter("doc_id % 2 = 0")
    b2 = documents_df.filter("doc_id % 2 = 1")

    def state(root):
        idx = IncrementalIndex(spark, root, class_cols=("lang",), decay=0.5)
        idx.partial_fit(b1, "text", ["lang"])
        idx.partial_fit(b2, "text", ["lang"])
        return ({(r["lang"], r["term"]): r["tf"] for r in idx.state().collect()},
                {(r["term"], r["term_id"]) for r in idx.vocab().collect()})

    assert state("file://" + str(tmp_path / "uri")) == state(str(tmp_path / "plain"))
    assert not (cwd / "file:").exists()


def test_stream_ingest_foreachbatch(spark, documents_df, tmp_path):
    src = str(tmp_path / "src")
    documents_df.limit(50).write.parquet(src + "/b1")
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    # file-source streams read a directory of files
    flat = str(tmp_path / "flat")
    spark.read.parquet(src + "/b1").write.parquet(flat)
    idx = IncrementalIndex(spark, str(tmp_path / "sinc"), class_cols=("lang",))
    q = stream_ingest(spark, flat, idx, "text", "lang", schema,
                      str(tmp_path / "ckpt"), trigger_once=True)
    q.awaitTermination(120)
    assert idx.state().count() > 0
    assert idx.vocab().count() > 0


def test_windowed_term_counts_watermark_drops_late(spark, tmp_path):
    """Append-mode watermark contract: a window is emitted exactly once
    when it finalizes, later-than-watermark rows are dropped, and the
    same function on a batch DataFrame degrades to a plain groupBy."""
    from datetime import datetime

    from bertopic_spark.streaming.incremental import windowed_term_counts

    schema = "ts timestamp, text string"
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    feed([(datetime(2026, 1, 1, 10, 5), "spark merge"),
          (datetime(2026, 1, 1, 10, 20), "merge")])
    stream = spark.readStream.schema(schema).parquet(src)
    q = (windowed_term_counts(stream, "ts", "text",
                              window="1 hour", watermark="2 hours")
         .writeStream.format("memory").queryName("wtc_late")
         .outputMode("append").option("checkpointLocation", ckpt).start())
    q.processAllAvailable()
    # watermark advances to 12:00 at the end of this batch
    feed([(datetime(2026, 1, 1, 14, 0), "scan")])
    q.processAllAvailable()
    # 09:30 is behind the 12:00 watermark -> dropped; 10:00-window emits
    feed([(datetime(2026, 1, 1, 9, 30), "merge"),
          (datetime(2026, 1, 1, 14, 30), "scan")])
    q.processAllAvailable()
    q.stop()
    rows = {(r["window"].start.hour, r["term"]): r["tf"]
            for r in spark.sql("SELECT * FROM wtc_late").collect()}
    assert rows[(10, "merge")] == 2 and rows[(10, "spark")] == 1
    assert not any(h == 9 for h, _ in rows)   # late row never resurrects
    assert not any(h == 14 for h, _ in rows)  # open window not emitted
    # batch parity: withWatermark is a no-op in batch mode
    batch = spark.createDataFrame(
        [(datetime(2026, 1, 1, 10, 5), "spark merge"),
         (datetime(2026, 1, 1, 9, 30), "merge")], schema)
    got = {(r["window"].start.hour, r["term"]): r["tf"]
           for r in windowed_term_counts(batch, "ts", "text").collect()}
    assert got == {(10, "spark"): 1, (10, "merge"): 1, (9, "merge"): 1}


def test_sessionize_streaming_matches_batch(spark, tmp_path):
    """session_window on a watermarked stream emits, in append mode, the
    same finalized sessions the batch path computes."""
    from datetime import datetime

    from bertopic_spark.streaming.incremental import sessionize

    schema = "ts timestamp, user_id long, value double"
    rows1 = [(datetime(2026, 1, 1, 10, 0), 1, 1.0),
             (datetime(2026, 1, 1, 10, 10), 1, 2.0),   # same session (gap 10m)
             (datetime(2026, 1, 1, 11, 0), 1, 4.0),    # new session (gap 50m)
             (datetime(2026, 1, 1, 10, 5), 2, 8.0)]
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (sessionize(stream, "ts", ["user_id"], "30 minutes",
                    value_col="value", watermark="1 hour")
         .writeStream.format("memory").queryName("sess_stream")
         .outputMode("append").option("checkpointLocation", ckpt).start())
    q.processAllAvailable()
    # advance the watermark far past every session end -> all finalize
    spark.createDataFrame([(datetime(2026, 1, 2, 0, 0), 9, 0.0)], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    got = {(r.user_id, r.session_start, r.session_end, r.n_events,
            r.sum_value)
           for r in spark.sql(
               "SELECT * FROM sess_stream WHERE user_id < 9").collect()}
    want = {(r.user_id, r.session_start, r.session_end, r.n_events,
             r.sum_value)
            for r in sessionize(spark.createDataFrame(rows1, schema), "ts",
                                ["user_id"], "30 minutes",
                                value_col="value").collect()}
    assert got == want and len(want) == 3


def test_stateful_term_totals_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-term state in the state store:
    batch 2's emission includes batch 1's counts."""
    from bertopic_spark.streaming.incremental import stateful_term_totals

    schema = "text string"
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    spark.createDataFrame([("spark merge spark",)], schema).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (stateful_term_totals(stream)
         .writeStream.format("memory").queryName("stt")
         .outputMode("update").option("checkpointLocation", ckpt).start())
    q.processAllAvailable()
    spark.createDataFrame([("spark scan",)], schema).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    rows = [(r.term, r.total, r.n_batches)
            for r in spark.sql("SELECT * FROM stt").collect()]
    # update-mode memory sink appends each trigger's emissions
    assert ("spark", 2, 1) in rows and ("merge", 1, 1) in rows
    assert ("spark", 3, 2) in rows    # state survived into batch 2
    assert ("scan", 1, 1) in rows
    assert ("merge", 1, 2) not in rows  # untouched keys are not re-emitted


def test_percolate_streaming_ingest(spark, tmp_path):
    """percolate composes onto a document stream via foreachBatch: a doc
    lives wholly in one micro-batch, so matching is stateless across
    batches (no watermark, no growing state) — the alerting deployment
    shape. Standing queries broadcast into every batch."""
    from bertopic_spark.operators.fulltext import percolate

    schema = "doc_id long, text string"
    src, ckpt = str(tmp_path / "psrc"), str(tmp_path / "pckpt")
    out_dir = str(tmp_path / "pout")
    q = spark.createDataFrame(
        [(0, "alpha"), (0, "beta"), (1, "gamma")], "query_id long, term string")
    spark.createDataFrame(
        [(0, "alpha beta x"), (1, "alpha only")], schema
    ).coalesce(1).write.mode("append").parquet(src)

    def sink(batch_df, batch_id):
        (percolate(batch_df, q, min_should_match=1.0)
         .write.mode("append").parquet(out_dir))

    stream = spark.readStream.schema(schema).parquet(src)
    sq = (stream.writeStream.foreachBatch(sink)
          .option("checkpointLocation", ckpt).start())
    sq.processAllAvailable()
    spark.createDataFrame([(2, "gamma ray")], schema).coalesce(1) \
        .write.mode("append").parquet(src)
    sq.processAllAvailable()
    sq.stop()
    got = {(r.doc_id, r.query_id) for r in
           spark.read.parquet(out_dir).collect()}
    assert got == {(0, 0), (2, 1)}  # doc 1 matched only alpha: below AND


def test_stream_dedup_across_batches(spark, tmp_path):
    from bertopic_spark.streaming.incremental import stream_dedup

    schema = "doc_id long, text string"
    src = str(tmp_path / "ddsrc")
    out = str(tmp_path / "ddout")
    # batch 1: one internal duplicate (ids 1 and 2 share content)
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")],
        schema).write.mode("append").parquet(src)
    q = stream_dedup(spark, src, out, "text", "doc_id", schema,
                     str(tmp_path / "ddck"), trigger_once=True)
    q.awaitTermination(120)
    got1 = {(r.doc_id, r.text) for r in
            spark.read.parquet(out + "/docs").collect()}
    assert got1 == {(1, "alpha beta"), (3, "gamma")}  # min-id wins in-batch
    # batch 2: cross-batch duplicate of batch 1 plus one fresh doc
    spark.createDataFrame(
        [(4, "alpha beta"), (5, "delta")],
        schema).write.mode("append").parquet(src)
    q = stream_dedup(spark, src, out, "text", "doc_id", schema,
                     str(tmp_path / "ddck"), trigger_once=True)
    q.awaitTermination(120)
    got2 = {(r.doc_id, r.text) for r in
            spark.read.parquet(out + "/docs").collect()}
    assert got2 == got1 | {(5, "delta")}  # doc 4 suppressed by state
    # equals the batch-mode oracle over the full input
    whole = spark.read.parquet(src).withColumn(
        "d", F.sha2(F.col("text"), 256))
    w = Window.partitionBy("d").orderBy("doc_id")
    oracle = {(r.doc_id, r.text) for r in
              whole.withColumn("rn", F.row_number().over(w))
              .filter("rn = 1").drop("rn", "d").collect()}
    assert got2 == oracle
    # replay with the same checkpoint: markers make it a no-op
    q = stream_dedup(spark, src, out, "text", "doc_id", schema,
                     str(tmp_path / "ddck"), trigger_once=True)
    q.awaitTermination(120)
    assert spark.read.parquet(out + "/docs").count() == len(got2)


def test_stream_dedup_on_a_uri_root(spark, tmp_path, monkeypatch):
    """With a file:// out_root the seen digests and the replay markers go
    through the root's filesystem: a batch-2 copy of a batch-1 document is
    dropped, a replayed batch writes nothing, and nothing lands under a
    "file:" directory in the working directory."""
    from bertopic_spark.streaming.incremental import stream_dedup

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    schema = "doc_id long, text string"
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    out = "file://" + str(tmp_path / "out")

    def run():
        q = stream_dedup(spark, src, out, "text", "doc_id", schema, ck,
                         trigger_once=True)
        q.awaitTermination(120)
        assert q.exception() is None
        return {(r.doc_id, r.text)
                for r in spark.read.parquet(out + "/docs").collect()}

    spark.createDataFrame([(1, "alpha"), (2, "beta")], schema) \
        .write.mode("append").parquet(src)
    assert run() == {(1, "alpha"), (2, "beta")}
    spark.createDataFrame([(3, "alpha"), (4, "gamma")], schema) \
        .write.mode("append").parquet(src)
    want = {(1, "alpha"), (2, "beta"), (4, "gamma")}
    assert run() == want
    # replay batch 1: its offsets are logged but its commit is not
    files = sorted(os.listdir(tmp_path / "out" / "docs"))
    for name in ("1", ".1.crc"):
        if os.path.exists(os.path.join(ck, "commits", name)):
            os.remove(os.path.join(ck, "commits", name))
    assert run() == want
    assert os.path.exists(os.path.join(ck, "commits", "1"))  # it re-ran
    assert sorted(os.listdir(tmp_path / "out" / "docs")) == files
    assert (tmp_path / "out" / "dedup_batch_1.done").exists()
    assert not (cwd / "file:").exists()
