#!/usr/bin/env python
"""Benchmark harness. Prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, ...extras}

Workloads:
* registry queries from __spark_entry__ over $SPARK_GRAFT_SF_DIR
  (default /root/testdata/sf0.1),
* the north-star workload on the synthetic source-code corpus:
  full BM25 index build (docs/sec) and per-query latency p50/p99
  over the fixture query set against the cached index.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
SPARK_GRAFT_BENCH_FILES (corpus size, default 20000),
SPARK_GRAFT_BENCH_NQ (latency queries, default 12).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SMOKE = "--smoke" in sys.argv
SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR",
    "/root/testdata/sf0.001" if SMOKE else "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "4" if SMOKE else "32"))
N_FILES = int(os.environ.get("SPARK_GRAFT_BENCH_FILES", "20000"))
N_LAT_Q = int(os.environ.get("SPARK_GRAFT_BENCH_NQ", "12"))

# Registry queries benchmarked at the sf dir (a representative slice: text
# pipeline, retrieval, slicing, dedup, ANN, relational, windows).
BENCH_QUERIES = [
    "tokenize_doc_counts",
    "class_postings",
    "ctfidf_topk_bm25_sqrt",
    "bm25_doc_topk",
    "topics_over_time",
    "dedup_minhash_signatures",
    "dedup_simhash",
    "ann_cosine_topk",
    "quality_score",
    "doc_fingerprint",
    "assign_nearest_class",
    "events_hourly",
    "pricing_summary",
    # round-2 additions (hierarchy tree + outlier re-assignment)
    "hierarchical_topics",
    "reduce_outliers_ctfidf",
    # round-3 additions (token-level distribution, soft assignment,
    # term-rank viz data)
    "approx_distribution_tokens",
    "transform_distribution",
    "term_rank_curve",
    "document_map_2d",
    # round-3 fulltext + pipeline additions
    "phrase_match",
    "boolean_match",
    "frequent_lines_removed",
    "decontaminate_bench",
    # round-3 retrieval-surface additions (expansion queries, MLT,
    # result assembly, hybrid fusion, compressed-embedding ANN, scrub)
    "fuzzy_match",
    "more_like_this",
    "search_snippets",
    "hybrid_rrf",
    "pq_adc_topk",
    "redact_pii",
    "passage_topk",
    "gopher_filter",
    "training_shards",
    "search_query_lang",
    # round-3 quality-signal additions (unigram-LM perplexity, char-n-gram
    # language ID, duplicated k-token span detection)
    "lm_perplexity",
    "langid_ngram",
    "dup_spans",
    "pruned_bm25_topk",
    # round-3 ranking-family additions (graph link analysis, second
    # ranking model, LTR feature extraction)
    "textrank_keywords",
    "lm_topk",
    "ltr_features",
    # round-3 serving-surface additions (classical Okapi, certified
    # tiered serving, reverse search, keyset paging)
    "okapi_bm25_topk",
    "tiered_bm25_topk",
    "percolate",
    "search_after_page2",
    # round-3 temporal/rollup additions
    "asof_click_purchase",
    "range_click_purchase",
    "events_rollup_day",
    "textrank_per_class",
    # round-3 analyzer + retrieval-semantics additions (synonym folding,
    # minimum_should_match, stop-term-robust candidates, phrase boost)
    "synonym_bm25_topk",
    "min_should_topk",
    "common_terms_topk",
    "phrase_boost_topk",
    # second-pass ranking + ordered spans (round-3 batch 2)
    "rescore_topk",
    "dismax_topk",
    "span_near_match",
    # round-3 batch 3: sketches, pipeline, distributed aggs, pruning
    "quantile_sketch",
    "percentile_ranks",
    "domain_mix_sample",
    "dedup_keep_canonical",
    "facet_topn_approx",
    "phrase_prefix_match",
    "okapi_maxscore_topk",
    "phrase_suggest",
    "term_vectors",
    "composite_agg_page2",
    "pipeline_aggs_hourly",
    "ann_filtered_topk",
    "range_agg_values",
    "matrix_stats_corr",
    # round-3 batch 4: negative-context spans, moment aggs, E-S sampling
    "span_not_match",
    "extended_stats_events",
    "weighted_sample_wor",
    # round-3 batch 5: score auditing + moment/dispersion/string aggs
    "explain_score",
    "t_test_en_vs_rest",
    "mad_event_values",
    "string_stats_lang",
    # round-3 batch 6: ES agg-family completion (exact rare tail, exact
    # boxplot, bucketed top hits, diversified sampling)
    "rare_terms_tail",
    "boxplot_events",
    "top_hits_per_type",
    "diversified_sample_docs",
    # round-3 batch 7: viz hierarchy levels + topic-quality evaluation
    "hierarchy_level_topics",
    "umass_coherence",
    "npmi_coherence",
    # round-3 batch 8: RM3 expansion, impact-quantized + IVF-PQ serving,
    # multi-fragment highlighting
    "rm3_topk",
    "impact_quantized_topk",
    "ivfpq_ann_topk",
    "top_snippets_frags",
    # round-3 batch 9: OR-amplified multi-table LSH ANN
    "ann_rplsh_multitable",
    "dfs_shard_topk",
    "bpe_merges",
    "bpe_subword_counts",
    "bigram_lm_perplexity",
    # round-3 batch 10: set-algebra sketches, block join, data selection,
    # online eval, LTR training
    "phrase_batch_match",
    "theta_term_setops",
    "has_child_topk",
    "dsir_sample",
    "team_draft_interleave",
    "ltr_logreg_rerank",
    "ltr_ranknet_rerank",
    # round-3 batch 11: code-structure analyzers + ES multi_match
    "comment_terms_topk",
    "symbol_definitions",
    "import_edges",
    "multi_match_best_fields",
    "span_near_or_match",
    "field_value_factor_topk",
    "symbol_resolve",
    "wildcard_indexed",
    "semdedup_keep",
    "match_bool_prefix",
    "significant_results_terms",
    "pinned_topk",
    "dedup_containment",
    "auto_date_histogram",
    "incremental_phrase_match",
    "sig_terms_percentage",
    "bucket_stats_hourly",
    "hybrid_linear_fuse",
    "bm25plus_topk",
    "terms_set_match",
    "function_score_multi",
    "ann_bq_topk",
    "top_metrics_latest",
    "weighted_avg_value",
    # round-3 late batch: feature scoring, bucket pipeline, span
    # containment, intervals, similarity variants, mixing, MRL serving
    "rank_feature_topk",
    "distance_feature_topk",
    "bucket_chain_hourly",
    "rate_events_daily",
    "date_range_clicks",
    "filters_agg_docs",
    "span_within_match",
    "intervals_match",
    "bm25l_topk",
    "significant_text_topk",
    "unimax_sample",
    "moving_percentiles_daily",
    "fuzzy_dl_match",
    "search_query_range",
    "ann_matryoshka_topk",
    "perplexity_buckets",
    "multi_match_cross_fields",
    "cumulative_cardinality",
    "categorize_text",
    "span_multi_match",
    "bloom_semi_join",
    "decay_functions",
    "collapse_inner_hits",
    "mmr_diversify_ann",
    "percolate_phrases",
    "rank_eval_err",
    "seasonal_anomaly_hourly",
    "ewma_daily",
    "cohort_retention_daily",
    "funnel_conversion",
    "rolling_cardinality_wau",
    "path_hierarchy_rollup",
    "cuped_reduction",
    "sig_terms_chi2",
    "sig_terms_mi",
    "numeric_histogram",
    "counter_rate_hourly",
    "interval_overlap_pairs",
    "hybrid_weighted_rrf",
]


def _run(df) -> int:
    """Force full execution without driver-side materialization cost."""
    return df.write.format("noop").mode("overwrite").save() or 0


def _emit_and_exit(spark, payload: dict) -> None:
    """Print the payload JSON as the GUARANTEED last stdout line.

    Round 4's driver bench record was lost because Spark-teardown noise
    (a PythonAccumulatorV2 broken-pipe stack) printed *after* the payload,
    so the driver's tail-parse captured a stack trace (BENCH_r04.json
    parsed:null). Order here: persist the payload to BENCH/last_run.json
    first (belt-and-suspenders artifact), quiet the logs, stop the session
    so its teardown noise lands *before* the JSON, flush, print, then
    os._exit so no atexit/py4j shutdown hook can write another line."""
    repo = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(repo, "BENCH"), exist_ok=True)
    name = "last_run_smoke.json" if SMOKE else "last_run.json"
    with open(os.path.join(repo, "BENCH", name), "w") as f:
        json.dump(payload, f, indent=1)
    try:
        spark.sparkContext.setLogLevel("FATAL")
    except Exception:
        pass
    try:
        spark.stop()
    except Exception:
        pass
    sys.stderr.flush()
    sys.stdout.write(json.dumps(payload) + "\n")
    sys.stdout.flush()
    os._exit(0)


def _spin(_):
    x = 0
    for i in range(20_000_000):
        x += i * i
    return x


def _host_calibration(cpus: int) -> dict:
    """Single-core and all-core ALU throughput (tasks/sec) measured right
    before the suite. The sandbox is a shared VM whose effective speed
    swings 2-4x run-to-run (observed 24.8s -> 67.6s for the identical
    cold index build within 15 minutes); absolute numbers across rounds
    are only comparable after dividing by this calibration."""
    import multiprocessing as mp

    out = {}
    for w in (1, cpus):
        t0 = time.perf_counter()
        with mp.Pool(w) as pool:
            pool.map(_spin, range(w))
        out[f"host_spin_{w}w_tasks_per_sec"] = round(w / (time.perf_counter() - t0), 3)
    return out


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from bertopic_spark.corpus import fixture_queries, load_corpus
    from bertopic_spark.operators.bm25 import bm25_topk, doc_scores, queries_df, query_terms
    from bertopic_spark.session import get_spark

    extras: dict[str, object] = dict(_host_calibration(CPUS))
    spark = get_spark("bench", cpus=CPUS, shuffle_partitions=max(CPUS, 32))
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    if SMOKE:
        # Tiny run exercising the exact emission path (same payload shape,
        # same _emit_and_exit) so tests can assert the JSON is the last
        # stdout line without paying for the full suite.
        qs = entry.queries()
        for name in ("topic_sizes", "events_hourly"):
            t0 = time.perf_counter()
            _run(qs[name](spark, SF_DIR))
            timings[name] = round(time.perf_counter() - t0, 3)
        sf = SF_DIR.rstrip("/").split("sf")[-1]
        _emit_and_exit(spark, {
            "metric": "bench_suite_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "cpus": CPUS,
            "smoke": True,
        })

    # --- north-star: full index build (scores → blocks → segments) ---
    # Measured FIRST, in a clean session: this is how the standalone
    # spark-submit build job runs, and measuring it after ~100 registry
    # queries conflates the metric with accumulated JVM/session state
    # (r3 interim benches showed ~2x "regressions" that a fresh session
    # did not reproduce).
    import shutil
    import tempfile

    from bertopic_spark.index.segments import (build_block_index, serve_topk,
                                               write_index_segments)
    from bertopic_spark.tokenizer import tokenize_one

    corpus = load_corpus(spark, N_FILES).persist()
    n_docs = corpus.count()  # warm the file cache; excluded from build time
    seg_dir = tempfile.mkdtemp(prefix="bench_segs_")
    build_handles: list = []
    t0 = time.perf_counter()
    scores = doc_scores(corpus, text_col="content", id_col="doc_id",
                        mode="ascii_code", _persisted_out=build_handles)
    blocks = build_block_index(scores, 4096)
    write_index_segments(blocks, seg_dir)
    build_sec = time.perf_counter() - t0
    n_postings = scores.count()  # cached from persist_counts; cheap
    timings["index_build_codecorpus"] = round(build_sec, 3)
    extras["index_build_docs_per_sec"] = round(n_docs / build_sec, 1)
    extras["index_postings"] = n_postings
    extras["index_docs"] = n_docs

    # Steady-state build throughput: trial 2 with the JVM warm (codegen
    # compiled, shuffle paths exercised). On a long-lived cluster indexing
    # 100 TB this is the sustained rate; trial 1 pays one-time JIT cost.
    warm_dir = tempfile.mkdtemp(prefix="bench_segs_warm_")
    warm_handles: list = []
    t0 = time.perf_counter()
    scores_w = doc_scores(corpus, text_col="content", id_col="doc_id",
                          mode="ascii_code", _persisted_out=warm_handles)
    write_index_segments(build_block_index(scores_w, 4096), warm_dir)
    warm_sec = time.perf_counter() - t0
    timings["index_build_codecorpus_warm"] = round(warm_sec, 3)
    extras["index_build_warm_docs_per_sec"] = round(n_docs / warm_sec, 1)
    for h in warm_handles:
        h.unpersist()
    shutil.rmtree(warm_dir, ignore_errors=True)

    # --- PFor-delta codec build over the same scored postings (codec seam;
    # byte ratios and content/rank identity are measured in jobs/pfor_ab.py)
    t0 = time.perf_counter()
    _run(build_block_index(scores, 4096, codec="pfor"))
    timings["index_build_pfor"] = round(time.perf_counter() - t0, 3)
    for h in build_handles:
        h.unpersist()

    # --- north-star: BM25 query latency p50/p99 on the segment index ---
    fq = fixture_queries(40)
    qts = {qid: sorted(set(tokenize_one(fq[qid], "ascii_code"))) for qid in sorted(fq)}
    lat = []
    for qid in sorted(fq)[:N_LAT_Q]:
        t0 = time.perf_counter()
        serve_topk(spark, seg_dir, {qid: qts[qid]}, k=10).collect()
        lat.append(time.perf_counter() - t0)
    lat.sort()
    extras["bm25_query_p50_sec"] = round(statistics.median(lat), 4)
    extras["bm25_query_p99_sec"] = round(lat[min(len(lat) - 1, int(len(lat) * 0.99))], 4)
    timings["bm25_query_batch"] = round(sum(lat), 3)
    t0 = time.perf_counter()
    n_res = serve_topk(spark, seg_dir, qts, k=10).count()
    batch_sec = time.perf_counter() - t0
    timings["bm25_query_batch40_onejob"] = round(batch_sec, 3)
    extras["bm25_batch_ms_per_query"] = round(1000 * batch_sec / len(qts), 1)
    extras["bm25_batch_rows"] = n_res

    # --- warm serving session (IndexServer): the manifest is read once;
    # the cold p50 above reads it on every request. Both read the query's
    # buckets on the driver.
    from bertopic_spark.index.segments import IndexServer

    with IndexServer(spark, seg_dir) as srv:
        wlat = []
        for qid in sorted(fq)[:N_LAT_Q]:
            t0 = time.perf_counter()
            srv.topk({qid: qts[qid]}, k=10).collect()
            wlat.append(time.perf_counter() - t0)
        wlat.sort()
        t0 = time.perf_counter()
        srv.topk(qts, k=10).count()
        wbatch_sec = time.perf_counter() - t0
    extras["bm25_warm_p50_sec"] = round(statistics.median(wlat), 4)
    extras["bm25_warm_batch_ms_per_query"] = round(1000 * wbatch_sec / len(qts), 1)
    timings["bm25_serve_warm_batch40"] = round(wbatch_sec, 3)
    shutil.rmtree(seg_dir, ignore_errors=True)

    # --- positional tree: build the compressed phrase/proximity index and
    # serve a mixed query-language batch from the persisted trees only
    # (index/positions.py + operators/querylang.search_query_indexed).
    from bertopic_spark.index.positions import (build_pos_blocks,
                                                read_pos_segments,
                                                write_pos_segments)
    from bertopic_spark.operators.fulltext import (doc_term_positions,
                                                   phrase_match_postings)

    pos_dir = tempfile.mkdtemp(prefix="bench_pos_")
    try:
        t0 = time.perf_counter()
        write_pos_segments(
            build_pos_blocks(
                doc_term_positions(corpus, "content", "doc_id"), 4096),
            pos_dir)
        timings["pos_index_build"] = round(time.perf_counter() - t0, 3)
        # 8 two-term phrases drawn from the query fixtures, one batch each
        phr = [qts[qid][:2] for qid in sorted(fq) if len(qts[qid]) >= 2][:8]
        t0 = time.perf_counter()
        n_ph = 0
        for p in phr:
            n_ph += phrase_match_postings(
                read_pos_segments(spark, pos_dir, p), p).count()
        timings["phrase_serve_indexed8"] = round(time.perf_counter() - t0, 3)
        extras["phrase_indexed_hits"] = n_ph
        # batched: all 8 phrases in ONE job (segment scan pruned to the
        # union of their terms; per-phrase adjacency via broadcast fan-out)
        from bertopic_spark.operators.fulltext import phrase_match_batch

        t0 = time.perf_counter()
        n_b = phrase_match_batch(
            read_pos_segments(spark, pos_dir, sorted({t for p in phr for t in p})),
            {i: p for i, p in enumerate(phr)}).count()
        timings["phrase_serve_batch8_onejob"] = round(time.perf_counter() - t0, 3)
        extras["phrase_batch_hits"] = n_b
    finally:
        shutil.rmtree(pos_dir, ignore_errors=True)

    # --- incremental maintenance: delta append + tombstone delete + query
    # over the merged generations (index/incremental.py). The story at
    # 100 TB: a nightly 5% delta costs O(delta), never a rebuild.
    from bertopic_spark.index.incremental import IncrementalIndex

    inc_root = tempfile.mkdtemp(prefix="bench_incidx_")
    try:
        idx = IncrementalIndex.create(spark, inc_root, mode="ascii_code")
        base = corpus.filter(F.col("doc_id") % 20 != 0)
        delta = corpus.filter(F.col("doc_id") % 20 == 0)
        idx.append(base, text_col="content", id_col="doc_id")  # setup
        n_delta = delta.count()
        t0 = time.perf_counter()
        idx.append(delta, text_col="content", id_col="doc_id")
        t_append = time.perf_counter() - t0
        timings["index_append_delta"] = round(t_append, 3)
        extras["append_delta_docs_per_sec"] = round(n_delta / t_append, 1)
        t0 = time.perf_counter()
        idx.delete(corpus.filter(F.col("doc_id") % 40 == 1),
                   text_col="content", id_col="doc_id")
        timings["index_delete_tombstone"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        idx.topk(qts, k=10).count()
        timings["bm25_query_incremental40"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(inc_root, ignore_errors=True)

    # --- registry queries (the oracle-gated operator surface) ---
    # Every registry entry is benchmarked: the curated list first (stable
    # cross-round comparison order), then the remainder sorted — no gate
    # ships without a cost row (VERDICT r3 #6).
    corpus.unpersist()
    qs = entry.queries()
    tail = sorted(k for k in qs if k not in set(BENCH_QUERIES))
    for name in [*BENCH_QUERIES, *tail]:
        t0 = time.perf_counter()
        _run(qs[name](spark, SF_DIR))
        timings[name] = round(time.perf_counter() - t0, 3)

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    payload = {
        "metric": "bench_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "corpus_files": N_FILES,
        **extras,
    }
    _write_baseline_md(payload)
    _emit_and_exit(spark, payload)


def _write_baseline_md(payload: dict) -> None:
    """BENCH/BASELINE.md — the measured-numbers report the repo-root
    BASELINE.md points at: absolute throughput/latency plus the two-level
    scaling evidence (throughput at N and 4N cores + efficiency), pulled
    from the latest scaling_bench run when present."""
    repo = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(repo, "BENCH"), exist_ok=True)
    md = [
        "# Measured baseline numbers",
        "",
        f"Generated by `bench.py` (sf={payload['sf']}, local[{payload['cpus']}], "
        f"{payload['corpus_files']}-file code corpus).",
        "",
        "## North-rule headline",
        "",
        "| metric | value |",
        "|---|---|",
        f"| index build throughput (cold, trial 1) | {payload['index_build_docs_per_sec']} docs/sec "
        f"({payload['index_docs']} docs, {payload['index_postings']} postings) |",
        f"| index build throughput (warm, trial 2 — sustained rate) | "
        f"{payload.get('index_build_warm_docs_per_sec', '—')} docs/sec |",
        f"| BM25 per-query latency p50 / p99 | {payload['bm25_query_p50_sec']} s / "
        f"{payload['bm25_query_p99_sec']} s (single-query requests) |",
        f"| BM25 batched | {payload['bm25_batch_ms_per_query']} ms/query "
        f"(one 40-query request) |",
        f"| BM25 warm serving (IndexServer) | p50 "
        f"{payload.get('bm25_warm_p50_sec', '—')} s single-query, "
        f"{payload.get('bm25_warm_batch_ms_per_query', '—')} ms/query batched "
        f"(manifest read once) |",
        f"| bench suite total | {payload['value']} s over {len(payload['queries'])} queries |",
        "| host ALU calibration (1 worker / all workers) | "
        + f"{payload.get('host_spin_1w_tasks_per_sec', '—')} / "
        + f"{payload.get('host_spin_%dw_tasks_per_sec' % payload['cpus'], '—')} "
        + "tasks/sec — shared-VM speed swings 2-4x run-to-run; divide by this "
        + "before comparing rounds |",
        "",
        "## Per-query seconds",
        "",
        "| query | sec |",
        "|---|---|",
    ]
    for k, v in payload["queries"].items():
        md.append(f"| {k} | {v} |")
    scaling_path = os.path.join(repo, "BENCH", "scaling.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            sc = json.load(f)
        n_lo, n_hi = (lv["cpus"] for lv in sc["levels"])
        md += [
            "",
            "## Scaling (two parallelism levels, same input — N / 4N executor stand-in)",
            "",
            "| cores | build docs/sec | query batch q/s |",
            "|---|---|---|",
        ]
        for lv in sc["levels"]:
            md.append(f"| local[{lv['cpus']}] | {lv['docs_per_sec']} | "
                      f"{lv.get('queries_per_sec', '—')} |")
        md += [
            "",
            f"- index-build scaling efficiency ({n_lo}→{n_hi} cores): "
            f"**{sc['scaling_efficiency']}** "
            f"({'PASS' if sc['passed'] else 'FAIL'} vs ≥ 0.8)",
        ]
        if "query_scaling_efficiency" in sc:
            md.append(
                f"- query-batch scaling efficiency: **{sc['query_scaling_efficiency']}** "
                f"({'PASS' if sc['query_scaling_efficiency'] >= 0.8 else 'FAIL'} vs ≥ 0.8)")
        bw = sc.get("raw_cpu_ceiling", {}).get("bandwidth", {})
        if bw:
            md.append(
                f"- host memory-bandwidth ceiling at the same levels: "
                f"{bw.get('ceiling_efficiency')} (see BENCH/SCALING.md for "
                f"methodology, paired trials, and run-to-run variance)")
    with open(os.path.join(repo, "BENCH", "BASELINE.md"), "w") as f:
        f.write("\n".join(md) + "\n")


if __name__ == "__main__":
    main()
