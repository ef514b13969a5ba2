"""Posting-block codec A/B: delta+varint vs PFor-delta (patched bit-pack).

The north rule names "delta+varint (PForDelta-style) compressed posting
blocks"; the engine ships both family members behind one seam
(``index/blocks.CODECS``, same block grid / metadata / float64 score
stream) and this job measures them head-to-head on the same corpus:

* integer-stream bytes (total payload minus the codec-invariant 8·postings
  score stream) and total payload bytes,
* index build and full-decode wall time,
* CONTENT equality: decoded postings fingerprint identically, and
* SERVING equality: each codec's blocks, written as a segment tree and
  served with ``serve_topk``, give row-identical top-k answers on a
  20-query batch (rank identity is codec-independent).

Run:  python jobs/pfor_ab.py [n_files] [span]
Prints one JSON line; recorded in BENCH/PFOR.md.
"""

from __future__ import annotations

import json
import shutil
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


def build_variant(scores, codec: str, span: int, qts: dict) -> dict:
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
          .select(F.xxhash64("doc_id", "term", "tf",
                             F.round("score", 9)).alias("h"))
          .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("h").alias("s"))
          .collect()[0])
    decode_s = time.perf_counter() - t0
    seg = tempfile.mkdtemp(prefix=f"pfor_ab_{codec}_")
    try:
        write_index_segments(blocks, f"{seg}/seg")
        topk = serve_topk(scores.sparkSession, f"{seg}/seg", qts, k=10)
        tfp = (topk.select(F.xxhash64("query_id", "doc_id",
                                      F.round("score", 9), "rank").alias("h"))
               .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("h").alias("s"))
               .collect()[0])
    finally:
        shutil.rmtree(seg, ignore_errors=True)
    blocks.unpersist()
    return {
        "codec": codec,
        "n_blocks": int(m["n_blocks"]),
        "payload_bytes": int(m["payload_bytes"]),
        "int_stream_bytes": int(m["payload_bytes"]) - 8 * int(m["postings"]),
        "postings": int(m["postings"]),
        "build_s": round(build_s, 3),
        "decode_s": round(decode_s, 3),
        "content_fp": f"n{fp['n']}_s{fp['s']}",
        "topk_fp": f"n{tfp['n']}_s{tfp['s']}",
    }


def run_pair(corpus, span: int, qts: dict) -> dict:
    scores = doc_scores(corpus, text_col="content", id_col="doc_id").persist()
    scores.count()
    a = build_variant(scores, "varint", span, qts)
    b = build_variant(scores, "pfor", span, qts)
    scores.unpersist()
    return {
        "varint": a,
        "pfor": b,
        "int_stream_ratio": round(a["int_stream_bytes"] / b["int_stream_bytes"], 4),
        "payload_ratio": round(a["payload_bytes"] / b["payload_bytes"], 4),
        "content_identical": a["content_fp"] == b["content_fp"],
        "topk_identical": a["topk_fp"] == b["topk_fp"],
    }


def main(n_files: int = 20000, span: int = 1024) -> dict:
    spark = get_spark("pfor-ab", cpus=32)
    qts: dict = {}
    for r in query_terms(queries_df(spark, fixture_queries(20)),
                         "ascii_code").collect():
        qts.setdefault(r["query_id"], []).append(r["term"])
    out = {"n_files": n_files, "span": span}
    # dense-vocabulary regime (default generator): tiny gaps, varint's
    # best case (1-byte floor) — pfor must win via sub-byte bit widths
    dense = load_corpus(spark, n_files=n_files).persist()
    dense.count()
    out["dense_vocab"] = run_pair(dense, span, qts)
    dense.unpersist()
    # Heaps-law regime (rare-term-dominated dictionary — the 100-TB shape):
    # long gaps for rare terms, varint needs 2-3 bytes, pfor packs tight
    heaps = load_corpus(spark, n_files=n_files, locality=0.6,
                        pool_size=20 * n_files).persist()
    heaps.count()
    out["heaps_vocab"] = run_pair(heaps, span, qts)
    heaps.unpersist()
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    s = int(sys.argv[2]) if len(sys.argv) > 2 else 1024
    main(n, s)
