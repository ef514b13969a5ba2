#!/usr/bin/env python
"""spark-submit entry point: serve Lucene-style query strings from the
persisted index trees (scoring segments + positional segments), no corpus
scan — the deployment shape of operators/querylang.search_query_indexed:

  spark-submit --py-files bertopic_spark.zip jobs/search_serve.py \
      --seg /idx/segments --pos /idx/positions \
      --query '+tokenparse -deprecated "parse tree" user* lang:python' \
      [--dict-from-postings /idx/postings | --corpus /path/corpus.parquet] \
      [--meta /path/meta.parquet] [--k 10] [--output out.parquet]

Wildcard/fuzzy clauses need a term dictionary: pass the build's
materialized postings stage (--dict-from-postings, zero re-tokenization)
or a corpus to derive one from (--corpus). field:value clauses need
--meta (a parquet with doc_id + the metadata columns). Both trees carry
their own bucket count and block format, so the job takes no format flags.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seg", required=True, help="scoring segment tree")
    p.add_argument("--pos", required=True, help="positional segment tree")
    p.add_argument("--query", required=True, action="append",
                   help="query string (repeatable)")
    p.add_argument("--dict-from-postings", default=None,
                   help="materialized postings stage dir (term dictionary)")
    p.add_argument("--corpus", default=None,
                   help="corpus parquet to derive the dictionary from")
    p.add_argument("--meta", default=None,
                   help="parquet with doc_id + metadata columns")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--mode", default="ascii_code")
    p.add_argument("--output", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("bertopic_spark_search").getOrCreate()
    from pyspark.sql import functions as F

    from bertopic_spark.operators.querylang import search_query_indexed

    d = None
    if args.dict_from_postings:
        d = (spark.read.parquet(args.dict_from_postings)
             .groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df")))
    elif args.corpus:
        from bertopic_spark.operators.fulltext import term_dictionary
        d = term_dictionary(spark.read.parquet(args.corpus),
                            "content", "doc_id", args.mode)
    meta = spark.read.parquet(args.meta) if args.meta else None

    results = []
    for i, q in enumerate(args.query):
        t0 = time.perf_counter()
        out = search_query_indexed(
            spark, args.seg, args.pos, q, dictionary=d, meta=meta,
            k=args.k, mode=args.mode)
        rows = out.collect()
        sec = time.perf_counter() - t0
        results.append({"query": q, "sec": round(sec, 4),
                        "hits": [[r[0], r[1], r[2]] for r in rows]})
        if args.output:
            (out.withColumn("query_id", F.lit(i))
             .write.mode("append").parquet(args.output))
    print(json.dumps({"queries": len(results), "results": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
