"""Docid-assignment A/B: natural-key-sorted ids vs md5-shuffled ids.

The engine assigns doc_id as the global rank over the (repo, path, commit)
natural key (index/segments.assign_doc_ids) — the classical "URL-sorted"
docid assignment from web IR (Silvestri, ECIR 2007: sorting documents by
URL clusters lexically similar documents into contiguous id ranges, which
shrinks posting-list deltas). For source code the analog is exact: files
of one repo share vocabulary, so a term's postings concentrate into few
contiguous id runs → small deltas → fewer varint bytes AND fewer
(term, blk) range blocks.

This job QUANTIFIES that design choice against the adversarial baseline
(ids assigned by md5 of the key — i.e. a deterministic random permutation)
on the same corpus, same span:

* payload bytes (total and varint-stream-only — the float64 score stream
  is 8·postings both ways, so the varint-only delta isolates the id-gap
  effect; the tf stream is value-identical under any permutation),
* block counts (sorted ids touch fewer doc-id ranges per term),
* and proves CONTENT INVARIANCE: decoded postings reattached to their
  natural keys fingerprint identically both ways — id assignment is pure
  layout, never meaning.

Run:  python jobs/docid_order_ab.py [n_files] [span]
Prints one JSON line; recorded in BENCH/DOCID_ORDER.md.
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from bertopic_spark import get_spark  # noqa: E402
from bertopic_spark.corpus import load_corpus  # noqa: E402
from bertopic_spark.index.segments import (assign_doc_ids,  # noqa: E402
                                           build_block_index, decode_blocks)
from bertopic_spark.operators.bm25 import doc_scores  # noqa: E402

KEYS = ["repo", "path", "commit"]


def ids_for(corpus, order: str):
    """Key→id map under 'sorted' (natural key) or 'shuffled' (md5) order."""
    m = corpus.select(*KEYS).distinct()
    if order == "shuffled":
        m = m.withColumn("_ord", F.md5(F.concat_ws("\x1f", *KEYS)))
        return assign_doc_ids(m, ["_ord"]).drop("_ord")
    return assign_doc_ids(m, KEYS)


def build_variant(corpus, order: str, span: int) -> dict:
    id_map = ids_for(corpus, order)
    # the map's doc_id is the single source of truth (as in IndexBuild)
    with_ids = corpus.drop("doc_id").join(F.broadcast(id_map), KEYS)
    blocks = build_block_index(
        doc_scores(with_ids, text_col="content", id_col="doc_id"), span
    ).persist()
    t0 = time.perf_counter()
    m = blocks.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.length("payload")).alias("payload_bytes"),
        F.sum("n_docs").alias("postings"),
    ).collect()[0]
    # content fingerprint: decoded postings keyed by the NATURAL key, so the
    # fingerprint is id-assignment-invariant iff the index content is
    keyed = decode_blocks(blocks).join(F.broadcast(id_map), "doc_id")
    h1 = F.xxhash64(*KEYS, "term", "tf", F.round("score", 9))
    h2 = F.xxhash64(F.lit(23), *KEYS, "term", "tf", F.round("score", 9))
    fp = keyed.select(h1.alias("h1"), h2.alias("h2")).agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor("h1").alias("s"),
        F.bit_xor("h2").alias("x")
    ).collect()[0]
    blocks.unpersist()
    return {
        "order": order,
        "n_blocks": int(m["n_blocks"]),
        "payload_bytes": int(m["payload_bytes"]),
        "varint_bytes": int(m["payload_bytes"]) - 8 * int(m["postings"]),
        "postings": int(m["postings"]),
        "build_s": round(time.perf_counter() - t0, 3),
        "fingerprint": f"n{fp['n']}_s{fp['s']}_x{fp['x']}",
    }


def run_pair(corpus, span: int) -> dict:
    a = build_variant(corpus, "sorted", span)
    b = build_variant(corpus, "shuffled", span)
    return {
        "sorted": a,
        "shuffled": b,
        "payload_ratio": round(b["payload_bytes"] / a["payload_bytes"], 4),
        "varint_ratio": round(b["varint_bytes"] / a["varint_bytes"], 4),
        "block_ratio": round(b["n_blocks"] / a["n_blocks"], 4),
        "content_identical": a["fingerprint"] == b["fingerprint"],
    }


def main(n_files: int = 20000, span: int = 1024, locality: float = 0.6) -> dict:
    spark = get_spark("docid-order-ab", cpus=32)
    out = {"n_files": n_files, "span": span, "locality": locality}
    # control: the IID-vocabulary corpus — delta compression is provably
    # permutation-insensitive when a term's postings are uniform over ids
    # (expected gap depends only on df), so ratios ≈ 1 here by design
    control = load_corpus(spark, n_files=n_files).persist()
    control.count()
    out["iid_vocab"] = run_pair(control, span)
    control.unpersist()
    # treatment 1: per-repo vocabulary locality over the same dense
    # 5,000-term pool. Still ratio ≈ 1: with N/|vocab| this high every
    # term's mean id-gap is < 128 in ANY order, so the varint staircase
    # sits at its 1-byte floor and ordering cannot help (it even costs a
    # few bytes on inter-cluster jumps). The win needs RARE terms.
    local = load_corpus(spark, n_files=n_files, locality=locality).persist()
    local.count()
    out["repo_local_vocab"] = run_pair(local, span)
    local.unpersist()
    # treatment 2: locality + Heaps-law vocabulary (pool ~ 20×N, like real
    # code where most identifiers are rare relative to N). Here a rare
    # term's postings are a contiguous repo run under sorted ids (1-byte
    # gaps) but spread N/df > 127 apart when shuffled (2+-byte gaps) —
    # the URL-sort compression regime, which is the 100-TB regime: at
    # 10^9+ docs virtually the whole dictionary is rare relative to N.
    heaps = load_corpus(spark, n_files=n_files, locality=locality,
                        pool_size=20 * n_files).persist()
    heaps.count()
    out["heaps_local_vocab"] = run_pair(heaps, span)
    heaps.unpersist()
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    s = int(sys.argv[2]) if len(sys.argv) > 2 else 1024
    loc = float(sys.argv[3]) if len(sys.argv) > 3 else 0.6
    main(n, s, loc)
