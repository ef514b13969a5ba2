"""Incremental / online index maintenance (SURVEY §2.9, ST1-ST4).

The reference's online path (``bertopic/vectorizers/_online_cv.py``) is
batch-incremental: per mini-batch it (1) unions out-of-vocabulary terms
into the vocabulary with fresh ids, (2) decays accumulated counts
``X ← X·(1−decay) + X_batch``, (3) prunes terms whose decayed total falls
below ``delete_min_df``. We re-express each as a distributed MERGE-shaped
job over the long-form state (class, term, tf) plus a Structured Streaming
wrapper (``foreachBatch``) for true stream ingestion.

State is a parquet dir rewritten per batch (at production scale this would
be Iceberg/Delta MERGE INTO; plain parquet keeps the sandbox dependency-free
while the job shape — broadcast anti-join + unionByName + groupBy — is
identical).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bertopic_spark.operators.postings import class_term_counts, doc_term_counts


def vocab_union(vocab: DataFrame, new_terms: DataFrame) -> DataFrame:
    """ST2/T3/U1 (``_online_cv.py:76-100``): append OOV terms with fresh
    dense ids (max_id + 1 + dense rank over term order — deterministic).

    Id assignment goes through the range-repartition + prefix-sum pattern
    (``assign_doc_ids``): on the first batch the OOV set IS the whole
    vocabulary, so a partitionBy-less window here would serialize the
    entire vocab through one task.
    """
    from bertopic_spark.index.segments import assign_doc_ids

    oov = new_terms.select("term").distinct().join(vocab.select("term"), "term", "left_anti")
    max_id = vocab.agg(F.coalesce(F.max("term_id"), F.lit(-1)).alias("m")).collect()[0]["m"]
    fresh = assign_doc_ids(oov, ["term"], out_col="term_id").withColumn(
        "term_id", F.col("term_id") + F.lit(int(max_id) + 1))
    return vocab.unionByName(fresh)


def decayed_update(state: DataFrame, batch_counts: DataFrame, decay: float = 0.0,
                   delete_min_df: float | None = None,
                   class_cols: tuple[str, ...] = ("topic",)) -> DataFrame:
    """ST3/A11 (``_online_cv.py:120-158``): X ← X·(1−decay) + X_new, then
    prune terms whose total falls below delete_min_df.

    state/batch_counts: (class_cols..., term, tf:double|long). One
    unionByName + one groupBy — no per-key state shuffle beyond the agg.
    """
    old = state.select(*class_cols, "term", (F.col("tf") * (1.0 - decay)).alias("tf"))
    new = batch_counts.select(*class_cols, "term", F.col("tf").cast("double").alias("tf"))
    merged = old.unionByName(new).groupBy(*class_cols, "term").agg(F.sum("tf").alias("tf"))
    if delete_min_df is not None:
        keep = (
            merged.groupBy("term").agg(F.sum("tf").alias("total"))
            .filter(F.col("total") >= delete_min_df)
            .select("term")
        )
        merged = merged.join(F.broadcast(keep), "term")
    return merged


class IncrementalIndex:
    """ST1: partial_fit pipeline (``_bertopic.py:649-795`` analog) —
    per batch: tokenize → counts → vocab union → decayed state update.
    State lives under ``root/{state,vocab}`` parquet dirs."""

    def __init__(self, spark: SparkSession, root: str,
                 class_cols: tuple[str, ...] = ("topic",),
                 decay: float = 0.0, delete_min_df: float | None = None,
                 mode: str = "ascii_code"):
        self.spark, self.root = spark, root
        self.class_cols, self.decay, self.delete_min_df = class_cols, decay, delete_min_df
        self.mode = mode
        os.makedirs(root, exist_ok=True)

    def _read(self, name: str, schema: str) -> DataFrame:
        p = os.path.join(self.root, name)
        if os.path.exists(os.path.join(p, "_SUCCESS")):
            return self.spark.read.parquet(p)
        return self.spark.createDataFrame([], schema)

    def _write(self, df: DataFrame, name: str) -> None:
        # rewrite via a temp dir: parquet state is small relative to the
        # corpus (class×term), and production swaps this for MERGE INTO
        tmp = os.path.join(self.root, f"_tmp_{name}")
        df.write.mode("overwrite").parquet(tmp)
        final = os.path.join(self.root, name)
        back = self.spark.read.parquet(tmp)
        back.write.mode("overwrite").parquet(final)

    def state(self) -> DataFrame:
        cls = ", ".join(f"{c} string" for c in self.class_cols)
        return self._read("state", f"{cls}, term string, tf double")

    def vocab(self) -> DataFrame:
        return self._read("vocab", "term string, term_id long")

    def partial_fit(self, batch: DataFrame, text_col: str, class_col_values: list[str]) -> None:
        dt = doc_term_counts(batch, text_col, [*class_col_values, "doc_id"], self.mode)
        counts = class_term_counts(dt, class_col_values)
        for src, dst in zip(class_col_values, self.class_cols):
            if src != dst:
                counts = counts.withColumnRenamed(src, dst)
        new_vocab = vocab_union(self.vocab(), counts.select("term"))
        self._write(new_vocab, "vocab")
        new_state = decayed_update(self.state(), counts, self.decay,
                                   self.delete_min_df, self.class_cols)
        self._write(new_state, "state")

    def scores(self, bm25_weighting: bool = False,
               reduce_frequent_words: bool = False) -> DataFrame:
        """Re-extract c-TF-IDF from the accumulated state (the reference
        recomputes topic representations per partial_fit round)."""
        from bertopic_spark.operators.ctfidf import ctfidf

        st = self.state().withColumn("tf", F.col("tf"))
        return ctfidf(st, list(self.class_cols), bm25_weighting, reduce_frequent_words)


def stream_ingest(spark: SparkSession, input_dir: str, idx: IncrementalIndex,
                  text_col: str, class_col: str, schema: str,
                  checkpoint_dir: str, trigger_once: bool = True):
    """Structured Streaming wrapper: file-source stream → foreachBatch →
    IncrementalIndex.partial_fit. Watermarks are unnecessary (counts are
    time-agnostic); late files simply join a later batch — same semantics
    as the reference's partial_fit ordering."""
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        idx.partial_fit(batch_df, text_col, [class_col])

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_append_index(spark: SparkSession, input_dir: str, idx,
                        text_col: str, id_col: str, schema: str,
                        checkpoint_dir: str, trigger_once: bool = True):
    """Structured Streaming → segment-index append: file-source stream →
    foreachBatch → ``index.incremental.IncrementalIndex.append`` (one
    generation per micro-batch, O(batch) work each).

    Replay safety: foreachBatch re-runs a batch after a failure, but a
    generation is only visible once its manifest swap commits — so the
    handler drops a ``stream_batch_<id>.done`` marker AFTER the commit and
    skips marked batches on replay. A crash between commit and marker makes
    the replay raise on the id-range collision (append validates caller
    ids against every existing generation) instead of silently
    double-counting — loud, never wrong. The markers go through the index
    root's own filesystem, as its manifests do, so a URI root works.
    """
    from pyarrow import fs as pafs

    from bertopic_spark.index.checkpoint import _filesystem

    filesystem, root = _filesystem(idx.root)
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        marker = f"{root}/stream_batch_{batch_id}.done"
        if (filesystem.get_file_info(marker).type != pafs.FileType.NotFound
                or batch_df.isEmpty()):
            return
        idx.append(batch_df, text_col=text_col, id_col=id_col)
        with filesystem.open_output_stream(marker) as f:
            f.write(b"done")

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_term_counts(stream: DataFrame, ts_col: str = "ts",
                         text_col: str = "text", mode: str = "ascii_code",
                         window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Event-time windowed term counts with late-data handling: the
    watermark bounds state (windows older than max(event_time) − watermark
    are finalized and dropped from the store) and discards later-than-
    watermark rows — the Structured Streaming contract for unbounded
    sources, where foreachBatch-style time-agnostic counting would grow
    state forever.

    Works on a streaming OR batch DataFrame (withWatermark is a no-op in
    batch, so batch output == the same groupBy without a watermark — the
    parity the test asserts). Append output mode emits a (window, term)
    row exactly once, when its window finalizes.
    """
    from bertopic_spark.tokenizer import tokens_expr

    return (stream
            .withWatermark(ts_col, watermark)
            .select(F.col(ts_col),
                    F.explode(tokens_expr(F.col(text_col), mode))
                    .alias("term"))
            .groupBy(F.window(ts_col, window), "term")
            .agg(F.count(F.lit(1)).alias("tf")))


def sessionize(df: DataFrame, ts_col: str = "ts",
               key_cols=("user_id",), gap: str = "30 minutes",
               value_col: str | None = None,
               watermark: str | None = None) -> DataFrame:
    """Session windows per key — events chain while consecutive gaps are
    < ``gap``; a session ends ``gap`` after its last event (Spark
    ``session_window`` semantics): (keys…, session_start, session_end,
    n_events[, sum_<value_col>]).

    Batch AND streaming: pass ``watermark`` on a stream so session state
    is bounded and sessions emit (append mode) once the watermark passes
    their end. The shuffle is one groupBy on the key columns — session
    merging is state-store-side, never a window over the raw event log.
    """
    x = df.withWatermark(ts_col, watermark) if watermark else df
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias(f"sum_{value_col}"))
    return (x.groupBy(*key_cols, F.session_window(ts_col, gap).alias("sw"))
            .agg(*aggs)
            .select(*key_cols,
                    F.col("sw.start").alias("session_start"),
                    F.col("sw.end").alias("session_end"),
                    "n_events",
                    *([f"sum_{value_col}"] if value_col is not None else [])))


def stateful_term_totals(stream: DataFrame, text_col: str = "text",
                         mode: str = "ascii_code") -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    running per-term corpus totals that survive across micro-batches in
    the state store — the arbitrary-state path for semantics the built-in
    windowed aggs can't express (each trigger emits (term, total, n_batches)
    in update mode only for terms the batch touched).

    Contrast with the foreachBatch MERGE paths above: state here lives in
    Spark's per-key state store (partitioned by term, checkpointed with
    the query), not in a caller-managed parquet relation — exactly-once
    per the streaming checkpoint contract. Arrow-batched; no per-row
    Python.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from bertopic_spark.tokenizer import tokens_expr

    terms = stream.select(
        F.explode(tokens_expr(F.col(text_col), mode)).alias("term"))

    def update(key, pdfs, state):
        import pandas as pd
        add = sum(len(p) for p in pdfs)
        total, batches = state.get if state.exists else (0, 0)
        state.update((total + add, batches + 1))
        yield pd.DataFrame({"term": [key[0]], "total": [total + add],
                            "n_batches": [batches + 1]})

    return terms.groupBy("term").applyInPandasWithState(
        update,
        outputStructType="term string, total long, n_batches long",
        stateStructType="total long, n_batches long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup(spark: SparkSession, input_dir: str, out_root: str,
                 text_col: str, id_col: str, schema: str,
                 checkpoint_dir: str, trigger_once: bool = True):
    """Streaming exact dedup: file-source stream → foreachBatch → keep the
    first occurrence of each content digest, across ALL batches.

    Per micro-batch: (1) sha2-256 digest of the content, (2) within-batch
    dedup keeping the smallest ``id_col`` per digest (a window partitioned
    by digest — never a global sort), (3) LEFT ANTI join against the
    persistent seen-digest relation, (4) append survivors to
    ``<out_root>/docs`` and their digests to ``<out_root>/seen``. Work per
    batch is O(batch) plus one join against state keyed by digest — at
    production scale the seen relation is bucketed/partitioned BY DIGEST
    (e.g. digest-prefix partitions or an Iceberg bucket transform), making
    the anti-join co-located so only the batch side shuffles; plain
    parquet keeps the sandbox dependency-free with the identical job
    shape.

    Replay safety (same contract as ``stream_append_index``): foreachBatch
    may re-run a batch after a crash; a ``dedup_batch_<id>.done`` marker is
    dropped AFTER both appends commit and marked batches are skipped.
    A crash between the docs append and the marker can replay survivors —
    the downstream read therefore de-dups on digest (documented; the
    batch-mode oracle in tests reads with a digest-distinct), which turns
    exactly-once into at-least-once-with-idempotent-read rather than
    silent duplication.
    """
    from pyspark.sql import Window

    stream = spark.readStream.schema(schema).parquet(input_dir)
    docs_dir = os.path.join(out_root, "docs")
    seen_dir = os.path.join(out_root, "seen")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(out_root, f"dedup_batch_{batch_id}.done")
        if os.path.exists(marker) or batch_df.isEmpty():
            return
        b = batch_df.withColumn("digest", F.sha2(F.col(text_col), 256))
        w = Window.partitionBy("digest").orderBy(F.asc(id_col))
        b = (b.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1).drop("_rn"))
        if os.path.exists(seen_dir):
            seen = spark.read.parquet(seen_dir).select("digest")
            b = b.join(seen, "digest", "left_anti")
        b = b.persist()
        try:
            b.write.mode("append").parquet(docs_dir)
            b.select("digest").write.mode("append").parquet(seen_dir)
        finally:
            b.unpersist()
        with open(marker, "w") as f:
            f.write("done")

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
