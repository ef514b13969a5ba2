"""Checkpointed, resumable index builds with per-partition lineage.

Spark has no cross-job resume; this is plain bookkeeping (north rule):
every stage writes a parquet segment dir + ``_MANIFEST.json`` recording

  { stage, input_fingerprint, created_utc, rows, bytes,
    partitions: [{file, rows, bytes}], metrics: {...}, schema }

The term-bucketed segment trees (segments.write_tree) are written through
the same ``write_stage`` and carry the same manifest, with metrics
{n_buckets, format}; it is all a tree reader needs to know.

Resume = if the manifest exists AND its input fingerprint matches the
current input, the stage is skipped and its parquet is read back;
otherwise the stage recomputes. A killed build therefore restarts at the
first incomplete stage, and the resumed index is content-identical to an
uninterrupted one (tested by comparing decoded postings, not parquet
bytes — parquet embeds timestamps).

Fingerprints are order-insensitive aggregates (xor/sum of row hashes) —
cheap one-pass, partition-count independent.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"


def df_fingerprint(df: DataFrame, cols: list[str] | None = None) -> str:
    """Order/partitioning-insensitive content fingerprint: sum + xor of
    per-row xxhash64 over the given columns (all by default)."""
    cols = cols or df.columns
    h1 = F.xxhash64(*[F.col(c) for c in cols])
    h2 = F.xxhash64(F.lit(23), *[F.col(c) for c in cols])
    row = (
        df.select(h1.alias("h1"), h2.alias("h2"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor("h1").alias("x1"),
            F.bit_xor("h2").alias("x2"),
        )
        .collect()[0]
    )
    return f"n{row['n']}_x{row['x1']}_y{row['x2']}"


def _filesystem(seg_dir: str):
    """(pyarrow filesystem, root) resolved from a segment URI, so hdfs://
    and s3a://-style dirs are listed, read and written through the same
    filesystem Spark wrote to (``open``/``os.walk`` would silently see
    only the local disk)."""
    from pyarrow import fs as pafs

    if "://" in seg_dir:
        uri = seg_dir.replace("s3a://", "s3://")  # pyarrow speaks s3://
        return pafs.FileSystem.from_uri(uri)
    return pafs.LocalFileSystem(), os.path.abspath(seg_dir)


def read_manifest(seg_dir: str) -> dict:
    """The ``_MANIFEST.json`` of a stage or tree; FileNotFoundError naming
    the directory when it has none."""
    filesystem, root = _filesystem(seg_dir)
    try:
        with filesystem.open_input_stream(f"{root}/{MANIFEST}") as f:
            return json.loads(f.read())
    except FileNotFoundError:
        raise FileNotFoundError(f"no {MANIFEST} under {seg_dir!r}") from None


def _footer_lineage(seg_dir: str) -> list[dict]:
    """Per-partition lineage from parquet FOOTERS (pyarrow metadata) — no
    re-scan of the data. A full read-back count here was a whole extra
    pass per stage; at 100 TB that pass costs as much as the stage.

    Zero parquet files are a valid (empty) output only next to Spark's
    ``_SUCCESS`` marker, which is all Spark writes for an empty
    partitioned frame. A directory with neither raises: an empty manifest
    there means a wrong filesystem or a failed write, never a checkpoint.
    """
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    filesystem, root = _filesystem(seg_dir)
    infos = filesystem.get_file_info(pafs.FileSelector(root, recursive=True))
    parts, success = [], False
    for info in infos:
        if info.type != pafs.FileType.File:
            continue
        rel = os.path.relpath(info.path, root)
        success |= rel == "_SUCCESS"
        if not info.path.endswith(".parquet"):
            continue
        with filesystem.open_input_file(info.path) as f:
            n_rows = pq.ParquetFile(f).metadata.num_rows
        parts.append({"file": rel, "rows": n_rows, "bytes": info.size})
    if not parts and not success:
        raise FileNotFoundError(
            f"no parquet files and no _SUCCESS under {seg_dir!r} — refusing "
            "to write an empty lineage manifest (wrong filesystem or failed "
            "write?)")
    parts.sort(key=lambda d: d["file"])
    return parts


def write_stage(df: DataFrame, seg_dir: str, stage: str, input_fingerprint: str | None,
                metrics: dict | None = None, partition_cols: list[str] | None = None) -> dict:
    """Materialize a stage to parquet + manifest with per-partition lineage."""
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(seg_dir)
    parts = _footer_lineage(seg_dir)
    manifest = {
        "stage": stage,
        "input_fingerprint": input_fingerprint,
        "created_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "rows": int(sum(p["rows"] for p in parts)),
        "bytes": int(sum(p["bytes"] or 0 for p in parts)),
        "n_partitions": len(parts),
        "partitions": parts,
        "metrics": metrics or {},
        # stage schema (with its field metadata), so reads never depend on
        # file-level schema inference (zero-file dirs can't infer)
        "schema": df.schema.jsonValue(),
    }
    filesystem, root = _filesystem(seg_dir)
    with filesystem.open_output_stream(f"{root}/{MANIFEST}") as f:
        f.write(json.dumps(manifest, indent=1).encode())
    return manifest


def stage_is_complete(seg_dir: str, input_fingerprint: str) -> bool:
    try:
        m = read_manifest(seg_dir)
    except (json.JSONDecodeError, OSError):
        return False
    return m.get("input_fingerprint") == input_fingerprint


def run_stage(
    spark: SparkSession,
    seg_dir: str,
    stage: str,
    input_fingerprint: str,
    compute: Callable[[], DataFrame],
    metrics: dict | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Compute-or-resume one stage. Returns the stage DataFrame (read back
    from parquet either way, so downstream lineage is cut at the segment)."""
    if not stage_is_complete(seg_dir, input_fingerprint):
        write_stage(compute(), seg_dir, stage, input_fingerprint, metrics, partition_cols)
    schema = read_manifest(seg_dir).get("schema")
    reader = spark.read
    if schema is not None:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(seg_dir)


def derive(parent_fp: str, stage: str, params: str) -> str:
    """A stage's gate fingerprint, DERIVED rather than re-scanned: every
    stage is a deterministic function of its input + params, so
    fp(stage) = hash(fp(input), stage, params). An input change OR a param
    change for THIS stage flips its own gate (and, through the chain,
    every downstream gate) exactly as a content re-scan would, without
    paying a full extra pass per stage — at 100 TB each of those passes
    costs as much as the stage itself. Content integrity is covered
    separately: the sha256 per-row invariant at the source, and
    decode-time structural checks on the blocks."""
    import hashlib

    return stage[0] + "_" + hashlib.sha256(
        f"{parent_fp}|{stage}|{params}".encode()).hexdigest()[:24]


class IndexBuild:
    """The staged, resumable BM25 index build (north rule end-to-end job).

    stages: docids → postings(scored) → blocks; each checkpointed under
    ``root/<stage>/`` with lineage manifests. ``status()`` reports progress.
    The blocks carry their span and codec in the payload tag, so no reader
    is told them again.
    """

    STAGES = ("docids", "postings", "blocks")

    def __init__(self, spark: SparkSession, root: str, span: int = 4096,
                 mode: str = "ascii_code"):
        self.spark, self.root, self.span, self.mode = spark, root, span, mode
        self.timings: dict[str, float] = {}
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def build(self, corpus: DataFrame, content_col: str = "content",
              sha_col: str | None = "content_sha") -> DataFrame:
        from bertopic_spark.index.segments import (assign_doc_ids,
                                                   build_block_index,
                                                   verify_content_sha)
        from bertopic_spark.operators.bm25 import doc_scores

        keys = ["repo", "path", "commit"]
        self.timings = {}
        t0 = time.perf_counter()
        # ONE pass over the corpus: content fingerprint + the sha256 per-row
        # invariant + a null-natural-key counter. The (repo, path, commit)
        # natural key is a HARD CONTRACT (unique, non-null): the docids
        # stage stores only the key→id map and reattaches content by an
        # inner join, so a NULL key would silently drop the row and a
        # duplicate key would multiply it into the postings. Nulls are
        # counted here (free, same agg); duplicates are caught below by
        # comparing the distinct-key map cardinality to the corpus count.
        cols = corpus.columns
        h1 = F.xxhash64(*[F.col(c) for c in cols])
        h2 = F.xxhash64(F.lit(23), *[F.col(c) for c in cols])
        nullkey = F.when(
            sum((F.col(k).isNull().cast("int") for k in keys), F.lit(0)) > 0, 1
        ).otherwise(0)
        aggs = [F.count(F.lit(1)).alias("n"), F.bit_xor("h1").alias("x1"),
                F.bit_xor("h2").alias("x2"), F.sum("nullkey").alias("nullkey")]
        sel = [h1.alias("h1"), h2.alias("h2"), nullkey.alias("nullkey")]
        check_sha = bool(sha_col and sha_col in corpus.columns)
        if check_sha:
            sel.append(
                F.when(F.sha2(F.col(content_col), 256) != F.col(sha_col), 1)
                .otherwise(0).alias("bad"))
            aggs.append(F.sum("bad").alias("bad"))
        row = corpus.select(*sel).agg(*aggs).collect()[0]
        if check_sha and row["bad"]:
            raise ValueError(f"content sha mismatch on {row['bad']} rows")
        if row["nullkey"]:
            raise ValueError(
                f"NULL natural key ({', '.join(keys)}) on {row['nullkey']} rows — "
                "the key→id map join would silently drop them")
        n_corpus = int(row["n"])
        fp_corpus = f"n{row['n']}_x{row['x1']}_y{row['x2']}"
        self.timings["invariant_fingerprint"] = round(time.perf_counter() - t0, 3)

        # The docids artifact is the KEY→ID MAP ONLY — (repo, path, commit,
        # doc_id), ~1-3% of the corpus bytes — never a second copy of the
        # content. At 100 TB duplicating the corpus into the index root
        # doubles storage and write IO for zero information; the map join
        # below reattaches content from the source scan. doc_id is the
        # global rank over the natural key, so the assignment is identical
        # for ANY partitioning/cluster size (tested). The map is built over
        # DISTINCT keys so its cardinality equals the distinct-key count —
        # compared against the corpus row count below to enforce the
        # key-uniqueness contract (a duplicate key would otherwise multiply
        # corpus rows into the postings via the join).
        fp_docids = derive(fp_corpus, "docids", ",".join(keys) + ",distinct")
        t0 = time.perf_counter()
        docids = run_stage(
            self.spark, self._dir("docids"), "docids", fp_docids,
            lambda: assign_doc_ids(corpus.select(*keys).distinct(), keys),
        )
        self.timings["stage_docids"] = round(time.perf_counter() - t0, 3)
        # Map-side join strategy: broadcast while the map is broadcastable
        # (≤ ~5M docs ≈ a few hundred MB); beyond that fall back to a
        # shuffle join — on a cluster that is one co-partitioned SMJ of
        # map vs corpus, still far cheaper than re-writing the corpus.
        n_map_rows = read_manifest(self._dir("docids"))["rows"]
        if n_map_rows != n_corpus:
            raise ValueError(
                f"natural key ({', '.join(keys)}) is not unique: "
                f"{n_corpus} corpus rows but {n_map_rows} distinct keys — "
                "the key→id map join would multiply duplicate-key rows")
        id_map = F.broadcast(docids) if n_map_rows <= 5_000_000 else docids
        # a caller-supplied doc_id is re-derived from the same key order —
        # drop it so the map's column is the single source of truth
        with_ids = corpus.drop("doc_id").join(id_map, keys)
        fp_postings = derive(fp_docids, "postings", f"mode={self.mode}")
        t0 = time.perf_counter()
        postings = run_stage(
            self.spark, self._dir("postings"), "postings", fp_postings,
            lambda: doc_scores(with_ids, text_col=content_col, id_col="doc_id",
                               mode=self.mode),
        )
        self.timings["stage_postings"] = round(time.perf_counter() - t0, 3)
        # the codec and the payload-tagged "blocks" format are params too,
        # so blocks checkpointed in another format recompute, never resume
        codec = "varint"
        fp_blocks = derive(fp_postings, "blocks",
                           f"span={self.span},codec={codec},format=blocks")
        t0 = time.perf_counter()
        blocks = run_stage(
            self.spark, self._dir("blocks"), "blocks", fp_blocks,
            lambda: build_block_index(postings, self.span, codec),
        )
        self.timings["stage_blocks"] = round(time.perf_counter() - t0, 3)
        return blocks

    def status(self) -> dict:
        out = {}
        for s in self.STAGES:
            try:
                m = read_manifest(self._dir(s))
            except FileNotFoundError:
                out[s] = None
                continue
            out[s] = {"rows": m["rows"], "bytes": m["bytes"],
                      "n_partitions": m["n_partitions"]}
        return out


def index_dictionary(spark, root: str) -> "DataFrame":
    """(term, df) read from the materialized postings stage — the term
    dictionary that wildcard/fuzzy expansion (operators/querylang,
    operators/fulltext.expand_terms) consults WITHOUT re-tokenizing the
    corpus. Postings are one row per (doc, term), so count(*) per term is
    exactly the document frequency; the agg prunes to two columns at the
    parquet scan."""
    p = spark.read.parquet(os.path.join(root, "postings"))
    return (p.groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df")))
