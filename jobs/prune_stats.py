#!/usr/bin/env python
"""Measure pruning skip rates with the stats_out counters (VERDICT r3 #9).

Runs the two pruned serving paths over the sf0.1 documents table with
their per-query stats relations enabled and prints markdown tables:

* ``maxscore_topk(stats_out=)`` — postings probed vs postings scored;
* ``blockmax_topk(stats_out=)`` — candidate buckets vs surviving buckets
  (block-max WAND over the compressed segment relation).

Usage:  python jobs/prune_stats.py [sf_dir] [n_queries]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    n_q = int(argv[1]) if len(argv) > 1 else 8

    from pyspark.sql import functions as F

    from bertopic_spark.entry_queries import DRIVER_QUERIES
    from bertopic_spark.index.segments import build_block_index
    from bertopic_spark.index.wand import blockmax_topk
    from bertopic_spark.operators.bm25 import (maxscore_topk,
                                               okapi_doc_scores, queries_df,
                                               query_terms)
    from bertopic_spark.session import get_spark

    spark = get_spark("prune-stats", cpus=16, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scores = okapi_doc_scores(docs, text_col="text", id_col="doc_id",
                              mode="ascii_code").persist()
    qs = {q: DRIVER_QUERIES[q] for q in sorted(DRIVER_QUERIES)[:n_q]}
    qt = query_terms(queries_df(spark, qs), "ascii_code").persist()

    ms_stats: list = []
    maxscore_topk(scores, qt, k=10, stats_out=ms_stats).count()
    print("## MaxScore skip rates (okapi, sf0.1 documents)\n")
    print("| query_id | n_terms | n_essential | n_postings | n_scored "
          "| n_skipped | skip_rate |")
    print("|---|---|---|---|---|---|---|")
    for r in ms_stats[0].orderBy("query_id").collect():
        print(f"| {r['query_id']} | {r['n_terms']} | {r['n_essential']} | "
              f"{r['n_postings']} | {r['n_scored']} | {r['n_skipped']} | "
              f"{r['skip_rate']} |")

    span = 256  # many buckets at 5k docs so bucket pruning is exercised
    blocks = build_block_index(scores, span).persist()
    bm_stats: list = []
    blockmax_topk(blocks, qt, k=10, seed_buckets=4,
                  stats_out=bm_stats).count()
    print("\n## Block-max WAND bucket skip rates (span=256)\n")
    print("| query_id | n_buckets | n_survivors | n_skipped | skip_rate |")
    print("|---|---|---|---|---|")
    for r in bm_stats[0].orderBy("query_id").collect():
        print(f"| {r['query_id']} | {r['n_buckets']} | {r['n_survivors']} | "
              f"{r['n_skipped']} | {r['skip_rate']} |")
    agg = bm_stats[0].agg(
        F.sum("n_buckets").alias("b"), F.sum("n_skipped").alias("s")
    ).collect()[0]
    print(f"\nAggregate bucket skip rate: {agg['s']}/{agg['b']} = "
          f"{round(agg['s'] / max(agg['b'], 1), 3)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
