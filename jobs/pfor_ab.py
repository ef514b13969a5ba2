"""Posting-block codec A/B: delta+varint vs PFor-delta (patched bit-pack).

The north rule names "delta+varint (PForDelta-style) compressed posting
blocks"; the engine ships both family members behind one seam
(``index/blocks.CODECS``, same block grid, metadata and score-free
(doc gap, tf, doc length) streams) and this job measures them
head-to-head on the same corpus:

* payload bytes (every payload byte is an integer stream: no score is
  stored) and the bytes of the written segment tree,
* index build and full-decode wall time, and the wall time of serving
  three 64-query ``serve_topk`` batches (median of five rounds after one
  warm-up),
* CONTENT equality: decoded postings fingerprint identically, and
* SERVING equality: each codec's tree, served with ``serve_topk``, gives
  row-identical top-k answers (rank identity is codec-independent).

Run:  python jobs/pfor_ab.py [n_files] [span] [seed]
(``250 4096 7`` is perfbench's seed-7 corpus with its span and bucket
count). Prints one JSON line; recorded in BENCH/PFOR.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from bertopic_spark import get_spark  # noqa: E402
from bertopic_spark.corpus import fixture_queries, load_corpus  # noqa: E402
from bertopic_spark.index.segments import (build_block_index,  # noqa: E402
                                           decode_blocks, serve_topk,
                                           write_index_segments)
from bertopic_spark.operators.bm25 import (doc_scores, queries_df,  # noqa: E402
                                           query_terms)

SERVE_ROUNDS = 5


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def build_variant(scores, codec: str, span: int, batches: list) -> dict:
    spark = scores.sparkSession
    t0 = time.perf_counter()
    blocks = build_block_index(scores, span, codec=codec).persist()
    m = blocks.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.length("payload")).alias("payload_bytes"),
        F.sum("n_docs").alias("postings"),
    ).collect()[0]
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    fp = (decode_blocks(blocks)
          .select(F.xxhash64("doc_id", "term", "tf", "score").alias("h"))
          .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("h").alias("s"))
          .collect()[0])
    decode_s = time.perf_counter() - t0
    seg = tempfile.mkdtemp(prefix=f"pfor_ab_{codec}_")
    try:
        write_index_segments(blocks, f"{seg}/seg")
        tree_bytes = _dir_bytes(f"{seg}/seg")
        rows = []
        for qts in batches:  # warm-up round, also the answers compared
            rows += serve_topk(spark, f"{seg}/seg", qts, k=10).collect()
        serve_s = []
        for _ in range(SERVE_ROUNDS):
            t0 = time.perf_counter()
            for qts in batches:
                serve_topk(spark, f"{seg}/seg", qts, k=10).collect()
            serve_s.append(time.perf_counter() - t0)
    finally:
        shutil.rmtree(seg, ignore_errors=True)
    blocks.unpersist()
    return {
        "codec": codec,
        "n_blocks": int(m["n_blocks"]),
        "payload_bytes": int(m["payload_bytes"]),
        "payload_bytes_per_posting": round(
            int(m["payload_bytes"]) / max(1, int(m["postings"])), 3),
        "tree_bytes": tree_bytes,
        "postings": int(m["postings"]),
        "build_s": round(build_s, 3),
        "decode_s": round(decode_s, 3),
        "serve_3x64_s": round(statistics.median(serve_s), 4),
        "content_fp": f"n{fp['n']}_s{fp['s']}",
        "topk": sorted(tuple(r) for r in rows),
    }


def run_pair(corpus, span: int, batches: list) -> dict:
    scores = doc_scores(corpus, text_col="content", id_col="doc_id").persist()
    scores.count()
    a = build_variant(scores, "varint", span, batches)
    b = build_variant(scores, "pfor", span, batches)
    scores.unpersist()
    same_topk = a.pop("topk") == b.pop("topk")
    return {
        "varint": a,
        "pfor": b,
        "payload_ratio": round(a["payload_bytes"] / b["payload_bytes"], 4),
        "tree_ratio": round(a["tree_bytes"] / b["tree_bytes"], 4),
        "content_identical": a["content_fp"] == b["content_fp"],
        "topk_identical": same_topk,
    }


def main(n_files: int = 20000, span: int = 1024, seed: int = 42) -> dict:
    spark = get_spark("pfor-ab", cpus=min(32, os.cpu_count() or 1))
    batches = []
    for b in range(3):
        fq = fixture_queries(64, seed=seed + b, corpus_seed=seed)
        qts: dict = {}
        for r in query_terms(queries_df(spark, fq), "ascii_code").collect():
            qts.setdefault(r["query_id"], []).append(r["term"])
        batches.append(qts)
    out = {"n_files": n_files, "span": span, "seed": seed}
    # dense-vocabulary regime (default generator): tiny gaps, varint's
    # best case (1-byte floor) — pfor must win via sub-byte bit widths
    dense = load_corpus(spark, n_files=n_files, seed=seed).persist()
    dense.count()
    out["dense_vocab"] = run_pair(dense, span, batches)
    dense.unpersist()
    # Heaps-law regime (rare-term-dominated dictionary — the 100-TB shape):
    # long gaps for rare terms, varint needs 2-3 bytes, pfor packs tight
    heaps = load_corpus(spark, n_files=n_files, seed=seed, locality=0.6,
                        pool_size=20 * n_files).persist()
    heaps.count()
    out["heaps_vocab"] = run_pair(heaps, span, batches)
    heaps.unpersist()
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    s = int(sys.argv[2]) if len(sys.argv) > 2 else 1024
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    main(n, s, seed)
