#!/usr/bin/env python
"""spark-submit entry point: batch BM25 top-k queries against a built index.

Completes the north-rule deployment shape (build job + query-batch job,
both `spark-submit --py-files`):

  spark-submit --py-files bertopic_spark.zip jobs/query_topk.py \
      --index /path/to/index_root \
      [--queries queries.json] [--k 10] [--output /path/out.parquet] \
      [--bench-json out.json] [--per-query-latency]

`--queries` is a JSON object {query_id: query_text}; without it the
deterministic fixture query set is used. Two serving shapes are measured:

* one-job batch: the whole query set in a single Spark job (throughput
  path — ms/query amortizes scheduling),
* per-query (with --per-query-latency): one job per query against the
  pruned bucket scan (latency path — p50/p99 per north rule).

The segment tree carries its own bucket count and block format, so the
job takes no format flags.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--index", required=True, help="index root (contains segments/)")
    p.add_argument("--queries", default=None, help="JSON file {query_id: text}")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--mode", default="ascii_code")
    p.add_argument("--output", default=None, help="write results parquet here")
    p.add_argument("--bench-json", default=None)
    p.add_argument("--per-query-latency", action="store_true")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("bertopic_spark_query_topk").getOrCreate()
    from bertopic_spark.index.segments import serve_topk
    from bertopic_spark.tokenizer import tokenize_one

    if args.queries:
        with open(args.queries) as f:
            raw = json.load(f)
        queries = {int(k): v for k, v in raw.items()}
    else:
        from bertopic_spark.corpus import fixture_queries

        queries = fixture_queries(40)

    qterms = {qid: sorted(set(tokenize_one(queries[qid], args.mode)))
              for qid in sorted(queries)}
    seg = f"{args.index}/segments"

    # throughput path: whole batch, one job
    t0 = time.perf_counter()
    res = serve_topk(spark, seg, qterms, k=args.k)
    if args.output:
        res.write.mode("overwrite").parquet(args.output)
        n_rows = spark.read.parquet(args.output).count()
    else:
        n_rows = res.count()
    batch_sec = time.perf_counter() - t0

    out = {
        "queries": len(qterms),
        "k": args.k,
        "result_rows": n_rows,
        "batch_sec": round(batch_sec, 3),
        "batch_ms_per_query": round(1000 * batch_sec / max(len(qterms), 1), 1),
    }

    if args.per_query_latency:
        lat = []
        for qid in sorted(qterms):
            t0 = time.perf_counter()
            serve_topk(spark, seg, {qid: qterms[qid]}, k=args.k).collect()
            lat.append(time.perf_counter() - t0)
        lat.sort()
        out["p50_sec"] = round(statistics.median(lat), 4)
        out["p99_sec"] = round(lat[min(len(lat) - 1, int(len(lat) * 0.99))], 4)

    print(json.dumps(out))
    if args.bench_json:
        with open(args.bench_json, "w") as f:
            json.dump(out, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
