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
4. segment write — a self-describing tree: parquet partitioned by hash
   bucket of term, plus the checkpoint manifest (checkpoint.py) with the
   schema, per-file rows/bytes and {n_buckets, format}. The payload
   column's field metadata tags the block format {span, codec}, so
   readers (``SegmentTree``, ``serve_topk``, ``decode_blocks``) take no
   format arguments.

The per-row invariant (sha256(content) vs source) is asserted in
``verify_content_sha`` at build and re-scan time (north rule).
"""

from __future__ import annotations

import json
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructType

from bertopic_spark.index.blocks import CODECS, DEFAULT_SPAN
from bertopic_spark.index.checkpoint import read_manifest, write_stage


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
        tag_payload(enc(F.col("blk"), F.col("plist.doc_id"), F.col("plist.tf"),
                        F.col("plist.score")), span, codec),
    ).drop("plist")


# ---------------------------------------------------------------------------
# The term-bucketed tree: one writer, one pruned reader. A tree is a parquet
# dir partitioned by a hash bucket of the term (write_tree) plus the
# checkpoint manifest (checkpoint.write_stage): the schema, whose payload
# field carries the block format tag, per-file rows and bytes, and
# metrics {n_buckets, format}. Writers are the only place the bucket
# count, span and codec are set; readers take them from the tree.
# ---------------------------------------------------------------------------

N_TERM_BUCKETS = 64

# tree format → (row order within a bucket, payload codecs it may carry).
# "blocks" carry a float64 score per posting and are served as they are;
# "gen_blocks" (incremental.py's generations) carry the document length in
# that slot instead, so only a caller that scores them may read them.
TREE_FORMATS = {
    "blocks": (("term", "blk"), tuple(CODECS)),
    "gen_blocks": (("term", "blk"), tuple(CODECS)),
    "pos_blocks": (("term", "blk"), ("pos_varint",)),
    "positions": (("term", "doc_id", "pos"), ()),
}


def tag_payload(payload: Column, span: int, codec: str) -> Column:
    """The ``payload`` column tagged with its block format. Spark field
    metadata rides through projections, joins, unions, caching and the
    parquet footer, so every decoder reads span and codec off the frame."""
    return payload.alias("payload", metadata={"span": int(span), "codec": codec})


def payload_format(df: DataFrame, where: str = "frame") -> tuple[int, str]:
    """(span, codec) from the payload tag; raises when there is none."""
    md = df.schema["payload"].metadata if "payload" in df.columns else {}
    if "span" not in md or "codec" not in md:
        raise ValueError(
            f"{where}: payload column carries no format tag {{span, codec}} — "
            "build blocks with build_block_index / build_pos_blocks")
    return int(md["span"]), md["codec"]


def block_decoder(span: int, codec: str):
    """The one decode loop of scoring blocks of format ``(span, codec)``
    (``payload_format`` of a frame): a function of a batch's ``blk`` and
    ``payload`` columns that returns (postings per block, doc ids, tfs,
    values), the last three concatenated over the blocks in row order."""
    if codec not in CODECS:
        raise ValueError(f"payload codec {codec!r} is not a scoring-block codec")
    decode = CODECS[codec][1]

    def decode_rows(blk, payload):
        parts = [decode(bytes(p), int(b) * span) for b, p in zip(blk, payload)]
        if not parts:
            return (np.empty(0, np.int64), np.empty(0, np.int64),
                    np.empty(0, np.int64), np.empty(0, np.float64))
        ids, tfs, values = (np.concatenate(c) for c in zip(*parts))
        return np.array([len(p[0]) for p in parts], np.int64), ids, tfs, values

    return decode_rows


def write_tree(df: DataFrame, path: str, fmt: str, n_buckets: int) -> dict:
    """Write ``df`` as a ``fmt`` tree of ``n_buckets`` term buckets; returns
    its manifest. Every tree writer goes through here."""
    order, codecs = TREE_FORMATS[fmt]
    if codecs:
        _, codec = payload_format(df, path)
        if codec not in codecs:
            raise ValueError(f"{path}: codec {codec!r} cannot make a {fmt!r} tree")
    out = df.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
    return write_stage(
        out.repartition("bucket").sortWithinPartitions(*order), path, fmt, None,
        metrics={"n_buckets": int(n_buckets), "format": fmt},
        partition_cols=["bucket"])


def term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side bucket id — bit-identical to write_tree's bucket column
    (verified pure-Python XXH64, no Spark job)."""
    from bertopic_spark.index.xxh import xxhash64_str

    return xxhash64_str(term) % n_buckets


class SegmentTree:
    """The one reader of a term-bucketed tree, configured by its manifest
    alone: a tree without a manifest, of an unknown format or of another
    format than ``fmt`` raises, naming the path.

    ``scan(terms)`` lists nothing: the manifest names the non-empty
    buckets, so only the query's ``bucket=N`` directories that hold data
    are handed to the parquet reader (with ``basePath``, so ``bucket``
    stays a partition column), and parquet term min/max stats prune row
    groups within them. A query whose buckets are all empty, or an empty
    tree, reads as an empty frame with the tree's schema.
    """

    def __init__(self, spark, path: str, fmt: str):
        m = read_manifest(path)
        found = m.get("metrics", {}).get("format")
        if found not in TREE_FORMATS:
            raise ValueError(f"{path}: unknown tree format {found!r}")
        if found != fmt:
            raise ValueError(f"{path}: a {found!r} tree, not a {fmt!r} tree")
        self.spark, self.path = spark, path.rstrip("/")
        self.n_buckets = int(m["metrics"]["n_buckets"])
        self.schema = StructType.fromJson(m["schema"])
        self.buckets = {int(p["file"].split("/")[0].split("=")[1])
                        for p in m["partitions"]}

    def buckets_of(self, terms) -> list[int]:
        """The non-empty buckets that can hold ``terms``."""
        return sorted({term_bucket(t, self.n_buckets) for t in terms}
                      & self.buckets)

    def scan(self, terms=None) -> DataFrame:
        """The whole tree, or only the rows of ``terms``."""
        reader = self.spark.read.schema(self.schema)
        if terms is None:
            return reader.parquet(self.path)
        buckets = self.buckets_of(terms)
        if not buckets:
            return self.spark.createDataFrame([], self.schema)
        return (reader.option("basePath", self.path)
                .parquet(*[f"{self.path}/bucket={b}" for b in buckets])
                .filter(F.col("term").isin(sorted(set(terms)))))


def write_index_segments(blocks: DataFrame, path: str,
                         n_buckets: int = N_TERM_BUCKETS) -> dict:
    """Persist ``build_block_index`` output as a "blocks" tree.

    Serving-path layout: a query's terms map to ≤ |q| buckets, so the scan
    prunes to n_buckets⁻¹ of the index per term (directory-level partition
    pruning), and parquet term min/max stats prune row groups within a
    bucket. At 100 TB this is the difference between touching the whole
    index and touching ~1/64 of it per query term.
    """
    return write_tree(blocks, path, "blocks", n_buckets)


def pruned_block_scan(spark, path: str, terms: list[str]) -> DataFrame:
    """The blocks of ``terms`` in the tree at ``path``, read from only the
    buckets that hold them. The tree supplies its own bucket count and
    block format; ``.explain`` shows PushedFilters on term."""
    return SegmentTree(spark, path, "blocks").scan(terms)


def serve_topk(spark, path: str, query_terms: dict[int, list[str]],
               k: int = 10) -> DataFrame:
    """Low-latency serving path: pruned scan → one shuffle of the
    compressed blocks by query → block-max pruned decode, score and top-k
    per query in one Arrow pass (``query_topk``).

    The tree at ``path`` carries its own format — bucket count in its
    manifest, span and codec in the payload tag — so any tree
    ``write_index_segments`` wrote is served without format arguments.

    query_terms: {query_id: [terms]} for a whole batch — one request
    serves the batch in two Spark jobs (scan + shuffle write, then the
    per-query pass: AQE submits each stage as its own job); per-query
    latency = request time / batch size.

    The stored value of each posting is its score. A generation tree of
    ``IncrementalIndex`` ("gen_blocks", whose value is a document length)
    raises here, naming the path; serve it with ``IncrementalIndex.topk``,
    which goes through the same kernel with a scoring step.

    Ties at rank k break by doc_id ascending — the engine-wide
    (score desc, doc_id asc) order.
    """
    all_terms = sorted({t for ts in query_terms.values() for t in ts})
    return _topk_over_scan(pruned_block_scan(spark, path, all_terms),
                           query_terms, k)


class IndexServer:
    """Warm serving session: pins the segment relation in executor storage
    ONCE and answers every subsequent query from the cache through the
    same tail as ``serve_topk`` — no manifest or footer reads per
    request. Like ``serve_topk`` it takes the bucket count and block
    format from the tree. The gain is small: on a 250-file corpus (4-core
    VM) its p50 was 326 ms against 369 ms for the cold path, because at
    that size per-job Spark overhead, not the listing or the scan, sets
    the latency.

    The cached relation keeps the (bucket, term) sort order from
    ``write_index_segments``, so InMemoryTableScan's per-batch min/max
    stats prune non-matching batches — the in-memory analog of the on-disk
    partition/row-group pruning. At 100 TB this is the serving-tier shape:
    hot segments pinned in executor memory (MEMORY_AND_DISK spills cold
    buckets), queries as sub-second jobs against the cache.

    Use as a context manager or call ``close()`` — the cache is explicitly
    released (same lifetime contract as bm25.py).
    """

    def __init__(self, spark, path: str):
        self.tree = SegmentTree(spark, path, "blocks")
        self.blocks = self.tree.scan().persist()
        self.blocks.count()

    def topk(self, query_terms: dict[int, list[str]], k: int = 10) -> DataFrame:
        all_terms = sorted({t for ts in query_terms.values() for t in ts})
        scan = self.blocks.filter(
            F.col("bucket").isin(self.tree.buckets_of(all_terms))
            & F.col("term").isin(all_terms))
        return _topk_over_scan(scan, query_terms, k)

    def close(self) -> None:
        self.blocks.unpersist()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


TOPK_SCHEMA = "query_id long, doc_id long, score double, rank int"


def _check_k(k: int) -> None:
    if k < 1:
        raise ValueError(f"k must be at least 1, got k={k}")


def query_topk(term, blk, max_score, payload, k: int, decode_rows,
               score=None, mask=None):
    """One query's top k over its candidate blocks: (doc ids, scores,
    blocks decoded), best first, ties by doc id ascending.

    ``term``, ``blk``, ``max_score`` and ``payload`` are the query's block
    rows, at most one per (term, blk); ``decode_rows`` is a
    ``block_decoder``; ``score`` and ``mask`` are ``_topk_over_scan``'s.

    Block-max pruning: blocks are doc-range aligned, so every posting of a
    doc lies in the bucket ``blk``. A bucket's bound is the sum of
    max(max_score, 0) over its rows, added in term order, the order each
    doc's score is summed in. A doc lacking a term adds nothing where the
    bound adds a non-negative block max, and float addition is monotone,
    so no doc scores above its bucket's bound, whatever the signs of the
    scores. Buckets are decoded in (bound desc, blk asc) order until the
    next bound is strictly below the k-th best score so far (an equal
    score could still win on doc id). Each doc's sum is the one a full
    decode computes, so the answer is the exhaustive top k. Without a
    stored bound (``max_score`` None: a scoring step's value is no score)
    every block is decoded in one pass.
    """
    _check_k(k)
    term, blk = np.asarray(term), np.asarray(blk, np.int64)
    payload = np.asarray(payload, object)
    # (term, blk) order, whatever order the shuffle delivered: each doc's
    # score and each bound are summed in the same term order on every run
    order = np.lexsort((blk, term))
    term, blk, payload = term[order], blk[order], payload[order]
    if max_score is None:
        groups, bound, visit = [np.arange(len(blk))], [np.inf], [0]
    else:
        buckets, inv = np.unique(blk, return_inverse=True)
        clipped = np.maximum(np.asarray(max_score, np.float64)[order], 0.0)
        bound = np.bincount(inv, weights=clipped, minlength=len(buckets))
        groups = np.split(np.argsort(inv, kind="stable"),
                          np.cumsum(np.bincount(inv))[:-1])
        visit = np.lexsort((buckets, -bound))
    docs, total, n_decoded = np.empty(0, np.int64), np.empty(0), 0
    for g in visit:
        if len(total) >= k and bound[g] < total[k - 1]:
            break
        rows = groups[g]
        n, ids, tf, value = decode_rows(blk[rows], payload[rows])
        s = value if score is None else score(np.repeat(term[rows], n), tf, value)
        if mask is not None and len(mask):
            at = np.minimum(np.searchsorted(mask, ids), len(mask) - 1)
            keep = mask[at] != ids
            ids, s = ids[keep], s[keep]
        d, slot = np.unique(ids, return_inverse=True)
        docs = np.concatenate([docs, d])
        total = np.concatenate(
            [total, np.bincount(slot, weights=s, minlength=len(d))])
        top = np.lexsort((docs, -total))[:k]
        docs, total = docs[top], total[top]
        n_decoded += len(rows)
    return docs, total, n_decoded


def _topk_over_scan(scan: DataFrame, query_terms: dict[int, list[str]],
                    k: int, score=None, mask=None) -> DataFrame:
    """The one top-k kernel over compressed blocks, shared by
    ``serve_topk``, ``IndexServer`` and ``IncrementalIndex.topk``.

    The term → query-ids map rides in the plan as one constant, exploded
    on ``term``, so the blocks fan out to every query that asks for their
    term without a join. One shuffle by query_id carries the compressed
    payloads; each query's group then goes through ``query_topk`` in a
    single Arrow pass, which decodes only the doc-range buckets whose
    block-max bound can still reach the top k. A query's group holds only
    its candidate blocks, so its memory is bounded by the postings it
    scores.

    ``score(term, tf, value)`` turns a group's postings (numpy arrays, one
    entry per posting) into their scores; without it the stored value is
    the score (a "blocks" tree) and ``max_score`` bounds it. ``mask``, a
    sorted int64 array of doc ids, drops those docs' postings before the
    per-doc sum. Both travel in the kernel's closure. ``k`` < 1 raises.
    """
    _check_k(k)
    decode_rows = block_decoder(*payload_format(scan))
    by_term: dict[str, list[int]] = {}
    for qid, ts in sorted(query_terms.items()):
        for t in sorted(set(ts)):
            by_term.setdefault(t, []).append(int(qid))
    qmap = F.from_json(F.lit(json.dumps(by_term, sort_keys=True)),
                       "map<string,array<bigint>>")
    cand = scan.select(F.explode(qmap[F.col("term")]).alias("query_id"),
                       "term", "blk", "max_score", "payload")

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        docs, total, _ = query_topk(
            pdf["term"].to_numpy(), pdf["blk"].to_numpy(),
            None if score else pdf["max_score"].to_numpy(),
            pdf["payload"].to_numpy(), k, decode_rows, score, mask)
        return pd.DataFrame({
            "query_id": np.full(len(docs), pdf["query_id"].iloc[0], np.int64),
            "doc_id": docs,
            "score": total,
            "rank": np.arange(1, len(docs) + 1, dtype=np.int32),
        })

    return cand.groupBy("query_id").applyInPandas(topk, TOPK_SCHEMA)


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """Inverse of build_block_index → (term, doc_id, tf, score) long form;
    span and codec come from the payload tag.

    mapInPandas (Arrow batches): one narrow pass, no shuffle.
    """
    decode_rows = block_decoder(*payload_format(blocks))

    def gen(batches):
        for pdf in batches:
            n, ids, tf, value = decode_rows(pdf["blk"], pdf["payload"])
            yield pd.DataFrame({"term": np.repeat(pdf["term"].to_numpy(), n),
                                "doc_id": ids, "tf": tf, "score": value})

    return blocks.select("term", "blk", "payload").mapInPandas(
        gen, "term string, doc_id long, tf long, score double")
