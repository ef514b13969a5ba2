"""SPIMI-style distributed index build → compressed posting segments.

Pipeline (SURVEY §4.2):

1. ``assign_doc_ids`` — deterministic dense doc_id from the natural key
   order (repo, path, commit) WITHOUT a global single-partition window:
   range-repartition on the key, sort within partitions, then
   per-partition row_number + exclusive prefix-sum of partition counts
   (the classic zipWithIndex shape, expressed on DataFrames). Stable
   across cluster sizes — required for rank-identity and resume.
2. tokenize → per-doc counts (partial agg = the in-memory SPIMI run)
   → BM25/c-TF-IDF scoring (operators/, all JVM expressions).
3. block assembly — groupBy (term, blk = doc_id // SPAN):
   ``sort_array(collect_list(struct(doc_id, tf, score)))`` then an
   Arrow-vectorized pandas UDF encodes each group to a delta+varint
   payload with per-block max_score/doc-range metadata. Heavy (stop)
   terms split across many (term, blk) groups — the composite key is the
   deterministic skew salt.
4. segment write — parquet partitioned-by hash bucket of term, plus a
   JSON manifest with per-partition lineage (rows/terms/bytes) and the
   corpus fingerprint for resume (checkpoint.py).

The per-row invariant (sha256(content) vs source) is asserted in
``verify_content_sha`` at build and re-scan time (north rule).
"""

from __future__ import annotations

import json
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from bertopic_spark.index.blocks import DEFAULT_SPAN, decode_block_arrays


def assign_doc_ids(df: DataFrame, order_cols: Sequence[str],
                   num_partitions: int | None = None,
                   out_col: str = "doc_id") -> DataFrame:
    """Dense deterministic 0-based ``out_col`` by (order_cols) without a
    global window.

    Two narrow jobs: one to count rows per range partition (tiny collect),
    one to add offsets. Scales to any corpus size; `monotonically_increasing_id`
    is banned (nondeterministic across retries/cluster sizes). Also the
    re-ID primitive behind zero_shot_split (P2) and vocab_union (T3/U1) —
    every dense-renumber in the engine goes through this, never through a
    partitionBy-less window.
    """
    from pyspark.sql import Window

    n_part = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(n_part, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    parted = parted.persist()
    counts = {r["_pid"]: r["cnt"] for r in
              parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = F.broadcast(df.sparkSession.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _offset long"))
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    out = (
        parted.join(off_df, "_pid")
        .withColumn(out_col, (F.row_number().over(w) - 1 + F.col("_offset")).cast("long"))
        .drop("_pid", "_offset")
    )
    return out


def verify_content_sha(df: DataFrame, content_col: str = "content",
                       sha_col: str = "content_sha") -> int:
    """North-rule per-row invariant: sha256(content) == source sha. Returns
    the mismatch count (caller asserts == 0); one narrow pass."""
    return df.filter(F.sha2(F.col(content_col), 256) != F.col(sha_col)).count()


def build_block_index(scores: DataFrame, span: int = DEFAULT_SPAN,
                      codec: str = "varint") -> DataFrame:
    """(term, blk, n_docs, doc_min, doc_max, max_score, sum_tf, payload).

    ``scores`` is the doc-level scored postings (doc_id, term, tf, score)
    from operators/bm25.doc_scores. One shuffle on (term, blk) via
    applyInPandas: columns arrive as numpy arrays, sort + varint-pack are
    fully vectorized (no per-posting Python).

    ``codec``: "varint" (default) or "pfor" (blocks.CODECS) — identical
    block grid, metadata and score stream; only the integer-stream bytes
    differ (content-equality tested, sizes A/B'd in jobs/pfor_ab.py).
    """
    from bertopic_spark.index.blocks import CODECS

    encode_fn = CODECS[codec][0]
    # JVM two-phase agg builds the sorted per-block posting arrays (cheap,
    # partial-agg friendly); field extraction hands the pandas UDF plain
    # numpy arrays per row — the varint pack is then fully vectorized.
    # (An applyInPandas variant was 3x slower: per-group pandas overhead
    # dominates at ~22k small groups.)
    @F.pandas_udf(BinaryType())
    def enc(blk: pd.Series, ids: pd.Series, tfs: pd.Series, scs: pd.Series) -> pd.Series:
        out = [
            encode_fn(i, t, s, int(b) * span)
            for b, i, t, s in zip(blk, ids, tfs, scs)
        ]
        return pd.Series(out)

    grouped = (
        scores.withColumn("blk", (F.col("doc_id") / span).cast("long"))
        .groupBy("term", "blk")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("doc_min"),
            F.max("doc_id").alias("doc_max"),
            F.max("score").alias("max_score"),
            F.sum("tf").alias("sum_tf"),
            F.sort_array(F.collect_list(F.struct("doc_id", "tf", "score"))).alias("plist"),
        )
    )
    return grouped.withColumn(
        "payload",
        enc(F.col("blk"), F.col("plist.doc_id"), F.col("plist.tf"), F.col("plist.score")),
    ).drop("plist")


N_TERM_BUCKETS = 64


def write_index_segments(blocks: DataFrame, path: str,
                         n_buckets: int = N_TERM_BUCKETS) -> None:
    """Persist the block index partitioned by a term-hash bucket.

    Serving-path layout: a query's terms map to ≤ |q| buckets, so the scan
    prunes to n_buckets⁻¹ of the index per term (directory-level partition
    pruning), and parquet term min/max stats prune row groups within a
    bucket. At 100 TB this is the difference between touching the whole
    index and touching ~1/64 of it per query term.
    """
    out = blocks.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    (
        out.repartition("bucket")
        .sortWithinPartitions("term", "blk")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


# On-disk segment schema (what write_index_segments produces). Reads pass it
# explicitly so an EMPTY index — zero input docs, or a bucket dir with no
# files — is servable (schema inference over zero files throws); at 100 TB
# an empty shard/bucket is routine, not an error.
BLOCK_SCHEMA = (
    "term string, blk long, n_docs long, doc_min long, doc_max long, "
    "max_score double, sum_tf long, payload binary, bucket int"
)


def read_index_segments(spark, path: str) -> DataFrame:
    return spark.read.schema(BLOCK_SCHEMA).parquet(path)


def term_bucket(term: str, n_buckets: int = N_TERM_BUCKETS) -> int:
    """Driver-side bucket id — bit-identical to the writer's
    pmod(xxhash64(term), n) (verified pure-Python XXH64, no Spark job)."""
    from bertopic_spark.index.xxh import xxhash64_str

    return xxhash64_str(term) % n_buckets


def pruned_block_scan(spark, path: str, terms: list[str],
                      n_buckets: int = N_TERM_BUCKETS) -> DataFrame:
    """Read only the buckets/terms a query needs.

    One Hadoop ``globStatus`` over ``bucket={b1,b2,...}`` finds the bucket
    directories that exist; only those are handed to the reader (with
    ``basePath`` so ``bucket`` stays a partition column), so a request
    never lists the other buckets of the tree. ``.explain`` shows
    PushedFilters on term. A bucket with no directory (no term of the
    index hashed there) or an empty index reads as an empty frame with
    ``BLOCK_SCHEMA``; a root that does not exist raises.
    """
    buckets = sorted({term_bucket(t, n_buckets) for t in terms})
    dirs = _bucket_dirs(spark, path, buckets) if buckets else []
    if not dirs:
        return spark.createDataFrame([], BLOCK_SCHEMA)
    df = (spark.read.schema(BLOCK_SCHEMA).option("basePath", path)
          .parquet(*dirs))
    return df.filter(F.col("term").isin(list(terms)))


def _bucket_dirs(spark, path: str, buckets: list[int]) -> list[str]:
    """The existing ``path/bucket=N`` directories among ``buckets``."""
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    pattern = "{" + ",".join(str(b) for b in buckets) + "}"
    found = fs.globStatus(jvm.org.apache.hadoop.fs.Path(root, f"bucket={pattern}"))
    dirs = [st.getPath().toString() for st in (found or [])]
    if not dirs and not fs.exists(root):
        raise FileNotFoundError(f"no index segments at {path}")
    return sorted(dirs)


def serve_topk(spark, path: str, query_terms: dict[int, list[str]], k: int = 10,
               span: int = DEFAULT_SPAN, n_buckets: int = N_TERM_BUCKETS) -> DataFrame:
    """Low-latency serving path: pruned scan → one shuffle of the
    compressed blocks by query → decode, score and top-k per query in one
    Arrow pass (vs blockmax_topk's multi-phase plan, which wins when the
    candidate set is large; after bucket+term pruning it rarely is).

    query_terms: {query_id: [terms]} for a whole batch — one request
    serves the batch in two Spark jobs (scan + shuffle write, then the
    per-query pass: AQE submits each stage as its own job); per-query
    latency = request time / batch size.

    Ties at rank k break by doc_id ascending — the engine-wide
    (score desc, doc_id asc) order.
    """
    all_terms = sorted({t for ts in query_terms.values() for t in ts})
    scan = pruned_block_scan(spark, path, all_terms, n_buckets)
    return _topk_over_scan(scan, query_terms, k, span)


class IndexServer:
    """Warm serving session: pins the segment relation in executor storage
    ONCE and answers every subsequent query from the cache through the
    same tail as ``serve_topk`` — no parquet listing or footer reads per
    request. The gain is small: on a 250-file corpus (4-core VM) its p50
    was 326 ms against 369 ms for the cold path, because at that size
    per-job Spark overhead, not the listing or the scan, sets the latency.

    The cached relation keeps the (bucket, term) sort order from
    ``write_index_segments``, so InMemoryTableScan's per-batch min/max
    stats prune non-matching batches — the in-memory analog of the on-disk
    partition/row-group pruning. At 100 TB this is the serving-tier shape:
    hot segments pinned in executor memory (MEMORY_AND_DISK spills cold
    buckets), queries as sub-second jobs against the cache.

    Use as a context manager or call ``close()`` — the cache is explicitly
    released (same lifetime contract as bm25.py / wand.py).
    """

    def __init__(self, spark, path: str, span: int = DEFAULT_SPAN,
                 n_buckets: int = N_TERM_BUCKETS, eager: bool = True):
        self.span = span
        self.n_buckets = n_buckets
        self.blocks = read_index_segments(spark, path).persist()
        if eager:
            self.blocks.count()

    def topk(self, query_terms: dict[int, list[str]], k: int = 10) -> DataFrame:
        all_terms = sorted({t for ts in query_terms.values() for t in ts})
        buckets = sorted({term_bucket(t, self.n_buckets) for t in all_terms})
        scan = self.blocks.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(all_terms))
        return _topk_over_scan(scan, query_terms, k, self.span)

    def close(self) -> None:
        self.blocks.unpersist()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


TOPK_SCHEMA = "query_id long, doc_id long, score double, rank int"


def _topk_over_scan(scan: DataFrame, query_terms: dict[int, list[str]],
                    k: int, span: int) -> DataFrame:
    """Shared tail of the serving paths.

    The term → query-ids map rides in the plan as one constant, exploded
    on ``term``, so the blocks fan out to every query that asks for their
    term without a join. One shuffle by query_id carries the compressed
    payloads; each query's group is then decoded, its scores summed per
    doc and its top k taken in a single Arrow pass. A query's group holds
    only its candidate blocks, so its memory is bounded by the postings
    it scores.
    """
    by_term: dict[str, list[int]] = {}
    for qid, ts in sorted(query_terms.items()):
        for t in sorted(set(ts)):
            by_term.setdefault(t, []).append(int(qid))
    qmap = F.from_json(F.lit(json.dumps(by_term, sort_keys=True)),
                       "map<string,array<bigint>>")
    cand = scan.select(F.explode(qmap[F.col("term")]).alias("query_id"),
                       "term", "blk", "payload")

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        # fixed (term, blk) order → each doc's score is summed in the same
        # term order on every run, whatever order the shuffle delivered
        pdf = pdf.sort_values(["term", "blk"], kind="stable")
        ids, scores = [], []
        for blk, payload in zip(pdf["blk"], pdf["payload"]):
            i, _, s = decode_block_arrays(bytes(payload), int(blk) * span)
            ids.append(i)
            scores.append(s)
        docs, inv = np.unique(np.concatenate(ids), return_inverse=True)
        total = np.bincount(inv, weights=np.concatenate(scores),
                            minlength=len(docs))
        top = np.lexsort((docs, -total))[:k]
        return pd.DataFrame({
            "query_id": np.full(len(top), pdf["query_id"].iloc[0], np.int64),
            "doc_id": docs[top],
            "score": total[top],
            "rank": np.arange(1, len(top) + 1, dtype=np.int32),
        })

    return cand.groupBy("query_id").applyInPandas(topk, TOPK_SCHEMA)


def decode_blocks(blocks: DataFrame, span: int = DEFAULT_SPAN,
                  codec: str = "varint") -> DataFrame:
    """Inverse of build_block_index → (term, doc_id, tf, score) long form.

    mapInPandas (Arrow batches): one narrow pass, no shuffle.
    """
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    out_schema = StructType([
        StructField("term", StringType()),
        StructField("doc_id", LongType()),
        StructField("tf", LongType()),
        StructField("score", DoubleType()),
    ])

    from bertopic_spark.index.blocks import CODECS

    decode_fn = CODECS[codec][1]

    def gen(batches):
        for pdf in batches:
            terms, dids, tfs, scs = [], [], [], []
            for term, blk, payload in zip(pdf["term"], pdf["blk"], pdf["payload"]):
                ids, t, s = decode_fn(bytes(payload), int(blk) * span)
                terms.append(np.full(len(ids), term, dtype=object))
                dids.append(ids)
                tfs.append(t)
                scs.append(s)
            if not dids:
                yield pd.DataFrame({"term": [], "doc_id": [], "tf": [], "score": []})
                continue
            yield pd.DataFrame({
                "term": np.concatenate(terms),
                "doc_id": np.concatenate(dids),
                "tf": np.concatenate(tfs),
                "score": np.concatenate(scs),
            })

    return blocks.select("term", "blk", "payload").mapInPandas(gen, out_schema)
