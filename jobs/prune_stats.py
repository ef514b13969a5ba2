#!/usr/bin/env python
"""Measure MaxScore skip rates with the stats_out counters (VERDICT r3 #9).

Runs ``maxscore_topk`` over the sf0.1 documents table with its per-query
stats relation enabled and prints a markdown table of postings probed vs
postings scored. The block-max pruning of the serving kernel is tested
directly (``tests/test_wand.py``).

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

    from bertopic_spark.entry_queries import DRIVER_QUERIES
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
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
