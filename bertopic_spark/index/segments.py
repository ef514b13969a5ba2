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
   ``sort_array(collect_list(struct(doc_id, tf, doc_len)))`` then an
   Arrow-vectorized pandas UDF encodes each group to a score-free
   delta+varint payload, beside the term's float64 weight and the
   block's max_score/doc-range metadata. Heavy (stop) terms split across
   many (term, blk) groups — the composite key is the deterministic skew
   salt.
4. segment write — a self-describing tree: parquet partitioned by hash
   bucket of term, plus the checkpoint manifest (checkpoint.py) with the
   schema, per-file rows/bytes and {n_buckets, format}. The payload
   column's field metadata tags the block format {span, codec, layout}
   and, in a batch tree, the scorer and its parameters, so readers
   (``SegmentTree``, ``serve_topk``, ``decode_blocks``) take no format or
   scoring arguments.

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

from bertopic_spark.index.blocks import CODECS, DEFAULT_SPAN, decode_payloads
from bertopic_spark.index.checkpoint import _filesystem, read_manifest, write_stage


def assign_doc_ids(df: DataFrame, order_cols: Sequence[str],
                   num_partitions: int | None = None,
                   out_col: str = "doc_id",
                   _persisted_out: list | None = None) -> DataFrame:
    """Dense deterministic 0-based ``out_col`` by (order_cols) without a
    global window.

    Two narrow jobs: one to count rows per range partition (tiny collect),
    one to add offsets. Scales to any corpus size; `monotonically_increasing_id`
    is banned (nondeterministic across retries/cluster sizes). Also the
    re-ID primitive behind zero_shot_split (P2) and vocab_union (T3/U1) —
    every dense-renumber in the engine goes through this, never through a
    partitionBy-less window.

    The range-partitioned input is persisted, because the offsets are
    counted from it and must describe the rows the ids are given to. A
    caller that writes the result out can collect that handle through
    ``_persisted_out`` and unpersist it afterwards.
    """
    from pyspark.sql import Window

    n_part = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(n_part, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    parted = parted.persist()
    if _persisted_out is not None:
        _persisted_out.append(parted)
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


# ---------------------------------------------------------------------------
# Scorers. A posting's score is a function of its tf, its document's length
# and its term's weight; the scorer and its parameters ride on the weight
# column of a scored relation (tag_weight) and, in a tree, in the payload
# tag, so build and serve compute the same expression: score_col in Spark
# (the block maxes), posting_scorer in numpy (the top-k kernel), each in
# the operation order of the one-shot scorer, so their float64 values are
# equal.
# ---------------------------------------------------------------------------

# scorer name → the parameters its tag carries
SCORERS = {"ctfidf": ("reduce_frequent_words",), "okapi": ("k1", "b", "avgdl")}


def _scorer(md, where: str) -> dict | None:
    """{scorer, params...} from field metadata; None when there is none."""
    name = md.get("scorer")
    if name is None:
        return None
    if name not in SCORERS or any(p not in md for p in SCORERS[name]):
        raise ValueError(f"{where}: unknown scorer tag {dict(md)!r}")
    return {"scorer": name, **{p: md[p] for p in SCORERS[name]}}


def tag_weight(weight: Column, scorer: str, **params) -> Column:
    """``weight`` aliased "weight" and tagged with the scorer that turns
    (tf, doc_len, weight) into the relation's score: "ctfidf"
    (``reduce_frequent_words``; the weight is the c-TF-IDF/BM25 idf) or
    "okapi" (``k1``, ``b``, ``avgdl``; the weight is the RSJ idf)."""
    md = {"scorer": scorer, **params}
    return weight.alias("weight", metadata=_scorer(md, "tag_weight"))


def score_col(scorer: dict) -> Column:
    """The score of a (tf, doc_len, weight) row in Spark — the expression
    ``ctfidf`` and ``okapi_doc_scores`` evaluate."""
    tf, dl, w = F.col("tf"), F.col("doc_len"), F.col("weight")
    if scorer["scorer"] == "okapi":
        k1, b, avgdl = (float(scorer[p]) for p in ("k1", "b", "avgdl"))
        return w * tf * F.lit(k1 + 1.0) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl)))
    tfn = tf / dl
    if scorer["reduce_frequent_words"]:
        tfn = F.sqrt(tfn)
    return tfn * w


def posting_scorer(scorer: dict):
    """``score_col`` in numpy: a function of per-posting (tf, doc_len,
    weight) arrays returning float64 scores equal to Spark's."""
    if scorer["scorer"] == "okapi":
        k1, b, avgdl = (float(scorer[p]) for p in ("k1", "b", "avgdl"))

        def okapi(tf, dl, w):
            return w * tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))

        return okapi
    rfw = bool(scorer["reduce_frequent_words"])

    def ctfidf(tf, dl, w):
        tfn = tf / dl
        return (np.sqrt(tfn) if rfw else tfn) * w

    return ctfidf


def build_block_index(scores: DataFrame, span: int = DEFAULT_SPAN,
                      codec: str = "varint") -> DataFrame:
    """(term, blk, n_docs, doc_min, doc_max, max_score, sum_tf, weight,
    payload).

    ``scores`` is a scored doc-level relation (doc_id, term, tf, doc_len,
    weight) from operators/bm25.doc_scores or okapi_doc_scores; its
    ``weight`` column carries the scorer tag (``tag_weight``), which the
    payload tag takes over. The payload holds (doc gap, tf, doc_len) per
    posting and no score; ``weight`` is the term's weight, and
    ``max_score`` the block's largest score, computed here with the
    scorer's expression (``score_col``), so the block-max bound holds
    exactly for the scores the kernel computes. One shuffle on
    (term, blk); columns arrive at the encoder as numpy arrays, and the
    varint pack is fully vectorized (no per-posting Python).

    A relation without ``weight`` (doc_id, term, tf, doc_len) gives the
    rows of an incremental generation: (term, blk, n_docs, doc_min,
    doc_max, sum_tf, payload), weighed at query time.

    ``codec``: "varint" (default) or "pfor" (blocks.CODECS) — identical
    block grid and metadata; only the integer-stream bytes differ
    (content-equality tested, sizes A/B'd in jobs/pfor_ab.py).
    """
    encode_fn = CODECS[codec][0]
    scorer = None
    if "weight" in scores.columns:
        scorer = _scorer(scores.schema["weight"].metadata, "build_block_index")
        if scorer is None:
            raise ValueError("build_block_index: the weight column carries no "
                             "scorer tag — weigh postings with doc_scores / "
                             "okapi_doc_scores (or tag_weight)")
    # JVM two-phase agg builds the sorted per-block posting arrays (cheap,
    # partial-agg friendly); field extraction hands the pandas UDF plain
    # numpy arrays per row — the varint pack is then fully vectorized.
    # (An applyInPandas variant was 3x slower: per-group pandas overhead
    # dominates at ~22k small groups.)
    @F.pandas_udf(BinaryType())
    def enc(blk: pd.Series, ids: pd.Series, tfs: pd.Series, dls: pd.Series) -> pd.Series:
        out = [
            encode_fn(i, t, d, int(b) * span)
            for b, i, t, d in zip(blk, ids, tfs, dls)
        ]
        return pd.Series(out)

    stats = [F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").alias("doc_min"),
             F.max("doc_id").alias("doc_max")]
    if scorer:
        stats.append(F.max(score_col(scorer)).alias("max_score"))
    stats.append(F.sum("tf").alias("sum_tf"))
    if scorer:  # one weight per term, so every posting of a block has it
        stats.append(F.max("weight").alias("weight"))
    grouped = (
        scores.withColumn("blk", (F.col("doc_id") / span).cast("long"))
        .groupBy("term", "blk")
        .agg(*stats,
             F.sort_array(F.collect_list(F.struct("doc_id", "tf", "doc_len")))
             .alias("plist"))
    )
    return grouped.withColumn(
        "payload",
        tag_payload(enc(F.col("blk"), F.col("plist.doc_id"), F.col("plist.tf"),
                        F.col("plist.doc_len")), span, codec, scorer),
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
# "blocks" (batch trees) carry a weight per row and their scorer in the
# payload tag, so they are served as they are; "gen_blocks"
# (incremental.py's generations) carry neither — their weights come from
# the merged stats at query time, so only IncrementalIndex may read them.
# Both hold the same score-free posting layout.
TREE_FORMATS = {
    "blocks": (("term", "blk"), tuple(CODECS)),
    "gen_blocks": (("term", "blk"), tuple(CODECS)),
    "pos_blocks": (("term", "blk"), ("pos_varint",)),
    "positions": (("term", "doc_id", "pos"), ()),
}

# the posting layout of scoring blocks, named in their payload tag; a tag
# without it is the earlier layout with a float64 value per posting,
# which nothing reads
LAYOUT = "gap_tf_dl"


def tag_payload(payload: Column, span: int, codec: str,
                scorer: dict | None = None) -> Column:
    """The ``payload`` column tagged with its block format and, for
    scored blocks, their scorer. Spark field metadata rides through
    projections, joins, unions, caching and the parquet footer, so every
    decoder reads span, codec and scorer off the frame."""
    md = {"span": int(span), "codec": codec}
    if codec in CODECS:
        md["layout"] = LAYOUT
    return payload.alias("payload", metadata={**md, **(scorer or {})})


def _payload_md(df: DataFrame | StructType):
    schema = df if isinstance(df, StructType) else df.schema
    return schema["payload"].metadata if "payload" in schema.names else {}


def payload_format(df: DataFrame | StructType,
                   where: str = "frame") -> tuple[int, str]:
    """(span, codec) from the payload tag of a frame or a schema; raises
    when there is none, or when scoring blocks are in another layout."""
    md = _payload_md(df)
    if "span" not in md or "codec" not in md:
        raise ValueError(
            f"{where}: payload column carries no format tag {{span, codec}} — "
            "build blocks with build_block_index / build_pos_blocks")
    if md["codec"] in CODECS and md.get("layout") != LAYOUT:
        raise ValueError(
            f"{where}: blocks in the layout with a float64 value per posting, "
            f"not {LAYOUT!r} (doc gap, tf, doc length) — rebuild the tree")
    return int(md["span"]), md["codec"]


def payload_scorer(df: DataFrame | StructType,
                   where: str = "frame") -> dict | None:
    """The scorer {scorer, params...} of scored blocks, from their payload
    tag; None for blocks that carry no weights (a generation's)."""
    return _scorer(_payload_md(df), where)


def _check_weights(schema: StructType, where: str, fmt: str) -> None:
    """A "blocks" tree holds weighted, scorer-tagged blocks; a
    "gen_blocks" tree unweighted ones."""
    if fmt in ("blocks", "gen_blocks") and (
            (payload_scorer(schema, where) is None) == (fmt == "blocks")):
        raise ValueError(
            f"{where}: a {fmt!r} tree holds blocks "
            + ("with a weight column and a scorer tag" if fmt == "blocks"
               else "without weights"))


def block_decoder(span: int, codec: str):
    """The one decode loop of scoring blocks of format ``(span, codec)``
    (``payload_format`` of a frame): a function of a batch's ``blk`` and
    ``payload`` columns that returns (postings per block, doc ids, tfs,
    document lengths), the last three concatenated over the blocks in
    row order."""
    if codec not in CODECS:
        raise ValueError(f"payload codec {codec!r} is not a scoring-block codec")

    def decode_rows(blk, payload):
        return decode_payloads(codec, [bytes(p) for p in payload],
                               np.asarray(blk, np.int64) * span)

    return decode_rows


def write_tree(df: DataFrame, path: str, fmt: str, n_buckets: int) -> dict:
    """Write ``df`` as a ``fmt`` tree of ``n_buckets`` term buckets; returns
    its manifest. Every tree writer goes through here."""
    order, codecs = TREE_FORMATS[fmt]
    if codecs:
        _, codec = payload_format(df, path)
        if codec not in codecs:
            raise ValueError(f"{path}: codec {codec!r} cannot make a {fmt!r} tree")
        _check_weights(df.schema, path, fmt)
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

    The manifest also names each bucket's files, so ``read`` reads
    buckets on the driver with pyarrow, without a Spark job.
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
        if TREE_FORMATS[fmt][1]:
            payload_format(self.schema, path)
            _check_weights(self.schema, path, fmt)
        self.files: dict[int, list[str]] = {}
        for p in m["partitions"]:
            b = int(p["file"].split("/")[0].split("=")[1])
            self.files.setdefault(b, []).append(p["file"])

    def buckets_of(self, terms) -> list[int]:
        """The non-empty buckets that can hold ``terms``."""
        return sorted({term_bucket(t, self.n_buckets) for t in terms}
                      & self.files.keys())

    def read(self, buckets, terms):
        """The (term, blk, max_score, weight, payload) rows of ``terms`` in
        ``buckets`` of a "blocks" tree as a pyarrow table, read on the
        driver through the tree's own filesystem (so URI roots work), with
        the term filter pushed into the row-group read."""
        import pyarrow.parquet as pq

        filesystem, root = _filesystem(self.path)
        return pq.read_table(
            [f"{root}/{f}" for b in buckets for f in self.files[b]],
            filesystem=filesystem, partitioning=None,
            columns=["term", "blk", "max_score", "weight", "payload"],
            filters=[("term", "in", sorted(set(terms)))])

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
    """Low-latency serving path: the query's buckets → block-max pruned
    decode, score and top-k per query (``query_topk``), on the driver.

    The tree at ``path`` carries its own format — bucket count in its
    manifest, span and codec in the payload tag — so any tree
    ``write_index_segments`` wrote is served without format arguments.

    query_terms: {query_id: [terms]} for a whole batch. The driver reads
    the batch's non-empty buckets with pyarrow, keeping only the rows of
    its terms, and runs ``query_topk`` per query; the answer is a local
    frame whose ``collect`` runs no Spark job. The driver holds the
    blocks of the batch's terms while it scores them. The Spark route of
    the same kernel (``_topk_over_scan``) serves ``IncrementalIndex.topk``.

    The tree's payload tag names its scorer and parameters, and each row
    carries its term's weight; the kernel scores every posting from its
    tf and document length with them (``posting_scorer``), equal in
    float64 to the scores ``doc_scores`` / ``okapi_doc_scores`` computed
    at build. A generation tree of ``IncrementalIndex`` ("gen_blocks",
    which carries no weights) raises here, naming the path; serve it with
    ``IncrementalIndex.topk``, which goes through the same kernel with the
    merged stats' weights. So does a tree in the earlier layout with a
    float64 value per posting.

    Ties at rank k break by doc_id ascending — the engine-wide
    (score desc, doc_id asc) order. ``k`` < 1 raises.
    """
    return _serve(SegmentTree(spark, path, "blocks"), query_terms, k)


class IndexServer:
    """Warm serving session over one tree: reads its manifest once, then
    answers each request like ``serve_topk``, on the driver with no Spark
    job. Like ``serve_topk`` it takes the bucket count and block format
    from the tree. It holds nothing but the manifest; ``close()`` and the
    context manager are kept for callers that scope a session.
    """

    def __init__(self, spark, path: str):
        self.tree = SegmentTree(spark, path, "blocks")

    def topk(self, query_terms: dict[int, list[str]], k: int = 10) -> DataFrame:
        return _serve(self.tree, query_terms, k)

    def close(self) -> None:
        """Nothing to release: the server pins no data."""

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


TOPK_SCHEMA = "query_id long, doc_id long, score double, rank int"


def _check_k(k: int) -> None:
    if k < 1:
        raise ValueError(f"k must be at least 1, got k={k}")


def query_topk(term, blk, max_score, weight, payload, k: int, decode_rows,
               score, mask=None):
    """One query's top k over its candidate blocks: (doc ids, scores,
    blocks decoded), best first, ties by doc id ascending.

    ``term``, ``blk``, ``max_score``, ``weight`` and ``payload`` are the
    query's block rows, at most one per (term, blk); ``decode_rows`` is a
    ``block_decoder`` and ``score`` a ``posting_scorer``. Each row's
    weight is repeated over its postings (never looked up per posting),
    and ``score(tf, doc_len, weight)`` gives their float64 scores.
    ``mask``, a sorted int64 array of doc ids, drops those docs' postings
    before the per-doc sum.

    Block-max pruning: blocks are doc-range aligned, so every posting of a
    doc lies in the bucket ``blk``. A bucket's bound is the sum of
    max(max_score, 0) over its rows, added in term order, the order each
    doc's score is summed in. A doc lacking a term adds nothing where the
    bound adds a non-negative block max, and float addition is monotone,
    so no doc scores above its bucket's bound, whatever the signs of the
    scores. Buckets are decoded in (bound desc, blk asc) order until the
    next bound is strictly below the k-th best score so far (an equal
    score could still win on doc id). Each doc's sum is the one a full
    decode computes, so the answer is the exhaustive top k. Without block
    maxes (``max_score`` None, as for a generation) every block is
    decoded in one pass.
    """
    _check_k(k)
    term, blk = np.asarray(term), np.asarray(blk, np.int64)
    weight = np.asarray(weight, np.float64)
    payload = np.asarray(payload, object)
    # (term, blk) order, whatever order the shuffle delivered: each doc's
    # score and each bound are summed in the same term order on every run
    order = np.lexsort((blk, term))
    blk, weight, payload = blk[order], weight[order], payload[order]
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
        n, ids, tf, dl = decode_rows(blk[rows], payload[rows])
        s = score(tf, dl, np.repeat(weight[rows], n))
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
                    k: int, weights: dict | None = None,
                    scorer: dict | None = None, mask=None) -> DataFrame:
    """The top-k kernel's Spark route, which ``IncrementalIndex.topk``
    takes (``serve_topk`` runs the same kernel on the driver, ``_serve``).

    The term → query-ids map rides in the plan as one constant, exploded
    on ``term``, so the blocks fan out to every query that asks for their
    term without a join. One shuffle by query_id carries the compressed
    payloads; each query's group then goes through ``query_topk`` in a
    single Arrow pass, which decodes only the doc-range buckets whose
    block-max bound can still reach the top k. A query's group holds only
    its candidate blocks, so its memory is bounded by the postings it
    scores.

    A "blocks" scan brings its own weights, block maxes and scorer (the
    payload tag). A generation scan carries none: ``weights`` ({term:
    weight}) is looked up once per block row and ``scorer`` ({scorer,
    params...}, see ``SCORERS``) scores the postings, with no pruning.
    ``mask``, a sorted int64 array of doc ids, drops those docs' postings
    before the per-doc sum. All of them travel in the kernel's closure.
    ``k`` < 1 raises.
    """
    _check_k(k)
    decode_rows = block_decoder(*payload_format(scan))
    extra = []
    if weights is None:
        scorer, extra = payload_scorer(scan), ["max_score", "weight"]
    score = posting_scorer(scorer)
    by_term: dict[str, list[int]] = {}
    for qid, ts in sorted(query_terms.items()):
        for t in sorted(set(ts)):
            by_term.setdefault(t, []).append(int(qid))
    qmap = F.from_json(F.lit(json.dumps(by_term, sort_keys=True)),
                       "map<string,array<bigint>>")
    cand = scan.select(F.explode(qmap[F.col("term")]).alias("query_id"),
                       "term", "blk", *extra, "payload")

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        if weights is None:
            max_score, w = pdf["max_score"].to_numpy(), pdf["weight"].to_numpy()
        else:
            max_score, w = None, pdf["term"].map(weights).to_numpy(np.float64)
        docs, total, _ = query_topk(
            pdf["term"].to_numpy(), pdf["blk"].to_numpy(), max_score, w,
            pdf["payload"].to_numpy(), k, decode_rows, score, mask)
        return pd.DataFrame({
            "query_id": np.full(len(docs), pdf["query_id"].iloc[0], np.int64),
            "doc_id": docs,
            "score": total,
            "rank": np.arange(1, len(docs) + 1, dtype=np.int32),
        })

    return cand.groupBy("query_id").applyInPandas(topk, TOPK_SCHEMA)


def _serve(tree: SegmentTree, query_terms: dict[int, list[str]],
           k: int) -> DataFrame:
    """``_topk_over_scan`` on the driver: the batch's buckets as one
    pyarrow table (``SegmentTree.read``), then ``query_topk`` per query
    over the rows of its terms. Span, codec and scorer come from the
    tree's schema. The answer is a local frame, so its ``collect`` runs
    no Spark job."""
    import pyarrow as pa

    _check_k(k)
    decode_rows = block_decoder(*payload_format(tree.schema, tree.path))
    score = posting_scorer(payload_scorer(tree.schema, tree.path))
    terms = sorted({t for ts in query_terms.values() for t in ts})
    buckets = tree.buckets_of(terms)
    parts = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0),
              np.empty(0, np.int32))]
    if buckets:
        rows = tree.read(buckets, terms)
        term, blk, max_score, weight, payload = (
            rows[c].to_numpy()
            for c in ("term", "blk", "max_score", "weight", "payload"))
        for qid, ts in sorted(query_terms.items()):
            sel = np.isin(term, sorted(set(ts)))
            if not sel.any():
                continue
            docs, total, _ = query_topk(term[sel], blk[sel], max_score[sel],
                                        weight[sel], payload[sel], k,
                                        decode_rows, score)
            parts.append((np.full(len(docs), qid, np.int64), docs, total,
                          np.arange(1, len(docs) + 1, dtype=np.int32)))
    qids, docs, scores, ranks = (np.concatenate(c) for c in zip(*parts))
    table = pa.table({"query_id": qids, "doc_id": docs, "score": scores,
                      "rank": ranks})
    return tree.spark.createDataFrame(table, TOPK_SCHEMA)


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """Inverse of build_block_index → (term, doc_id, tf, score) long form
    for scored blocks, the score computed from (tf, doc_len, weight) by
    the payload tag's scorer; (term, doc_id, tf, doc_len) for a
    generation's blocks, which carry no weights. Span and codec come from
    the payload tag.

    mapInPandas (Arrow batches): one narrow pass, no shuffle.
    """
    decode_rows = block_decoder(*payload_format(blocks))
    scorer = payload_scorer(blocks)
    score = scorer and posting_scorer(scorer)

    def gen(batches):
        for pdf in batches:
            n, ids, tf, dl = decode_rows(pdf["blk"], pdf["payload"])
            out = {"term": np.repeat(pdf["term"].to_numpy(), n),
                   "doc_id": ids, "tf": tf}
            if score:
                out["score"] = score(
                    tf, dl, np.repeat(pdf["weight"].to_numpy(np.float64), n))
            else:
                out["doc_len"] = dl
            yield pd.DataFrame(out)

    if score:
        return blocks.select("term", "blk", "weight", "payload").mapInPandas(
            gen, "term string, doc_id long, tf long, score double")
    return blocks.select("term", "blk", "payload").mapInPandas(
        gen, "term string, doc_id long, tf long, doc_len long")
