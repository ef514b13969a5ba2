#!/usr/bin/env python
"""spark-submit entry point: build the BM25 segment index end-to-end.

Usage (cluster-shaped; local[N] in the sandbox):

  spark-submit --py-files bertopic_spark.zip jobs/build_index.py \
      --corpus /path/to/source_files.parquet \
      --output /path/to/index_root \
      [--span 4096] [--mode ascii_code] [--bench-json out.json]

Runs the checkpointed IndexBuild (docids → scored postings → compressed
blocks, with per-partition lineage manifests and the sha256 content
invariant), then writes the term-bucketed serving segments. A second
invocation with the same input resumes/skips completed stages.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--corpus", required=True,
                   help="source table with (repo,path,commit,lang,content[,content_sha]): "
                        "a path (parquet/iceberg dir) or, with --source-format iceberg, "
                        "a catalog table name")
    p.add_argument("--source-format", default="parquet",
                   help="spark.read format for the corpus (parquet|iceberg|delta|orc); "
                        "iceberg needs the runtime jars + catalog conf on the cluster, "
                        "e.g. --packages org.apache.iceberg:iceberg-spark-runtime-...")
    p.add_argument("--output", required=True, help="index root dir")
    p.add_argument("--span", type=int, default=4096)
    p.add_argument("--mode", default="ascii_code")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--bench-json", default=None)
    p.add_argument("--warmup-corpus", default=None,
                   help="small corpus built untimed first (JIT/classload warm-up "
                        "so measured docs/sec is steady-state, as on a long-lived cluster)")
    p.add_argument("--query-bench", type=int, default=0,
                   help="after the build, run a batch of this many fixture "
                        "queries against the segments and record queries/sec "
                        "(north rule: scaling efficiency covers build AND "
                        "query batches)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("bertopic_spark_build_index").getOrCreate()
    from bertopic_spark.index.checkpoint import IndexBuild
    from bertopic_spark.index.segments import write_index_segments

    if args.warmup_corpus:
        import tempfile

        wdir = tempfile.mkdtemp(prefix="warmup_idx_")
        wb = IndexBuild(spark, wdir, span=args.span, mode=args.mode)
        write_index_segments(wb.build(spark.read.parquet(args.warmup_corpus)),
                             f"{wdir}/segments", args.n_buckets)

    # iceberg's load() accepts both warehouse paths and catalog table names
    corpus = spark.read.format(args.source_format).load(args.corpus)
    n_docs = corpus.count()
    t0 = time.perf_counter()
    build = IndexBuild(spark, args.output, span=args.span, mode=args.mode)
    blocks = build.build(corpus)
    t_seg = time.perf_counter()
    write_index_segments(blocks, f"{args.output}/segments", args.n_buckets)
    dt = time.perf_counter() - t0
    result = {
        "docs": n_docs,
        "build_sec": round(dt, 3),
        "docs_per_sec": round(n_docs / dt, 1),
        "stages": build.status(),
        "stage_timings": {**build.timings,
                          "segments": round(time.perf_counter() - t_seg, 3)},
        "parallelism": spark.sparkContext.defaultParallelism,
    }
    if args.query_bench:
        from bertopic_spark.corpus import fixture_queries
        from bertopic_spark.index.segments import serve_topk
        from bertopic_spark.tokenizer import tokenize_one

        fq = fixture_queries(args.query_bench)
        qts = {qid: sorted(set(tokenize_one(fq[qid], args.mode)))
               for qid in sorted(fq)}
        # one warm batch (plan/codegen), then the measured batch
        serve_topk(spark, f"{args.output}/segments",
                   dict(list(qts.items())[:8]), k=10).count()
        t0 = time.perf_counter()
        n_hits = serve_topk(spark, f"{args.output}/segments", qts,
                            k=10).count()
        qdt = time.perf_counter() - t0
        result["query_batch"] = args.query_bench
        result["query_batch_sec"] = round(qdt, 3)
        result["queries_per_sec"] = round(args.query_bench / qdt, 1)
        result["query_hits"] = n_hits
    print(json.dumps(result))
    if args.bench_json:
        with open(args.bench_json, "w") as f:
            json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
