"""Metric names and units the benchmark prints (``BENCHMARK.json`` holds
the same names with their bounds; a test keeps the two in step)."""

from __future__ import annotations

# Every workload reports every end-to-end metric; what "op" and "heavy op"
# mean on each workload is listed in perfbench/README.md. The wall figure
# is the time a user waits for the whole measured sequence; a total over
# all its operations is the steadiest wall figure on a shared host. CPU
# figures are CPU time of the benchmark's process tree
# (perfbench/cpuclock.py), which leaves out the time spent waiting for a
# busy host; per-operation CPU figures are means, the CPU cost per request.
END_TO_END = {
    "setup_s": "s",
    "workload_wall_s": "s",
    "op_cpu_ms": "ms",
    "heavy_op_cpu_s": "s",
    "workload_cpu_s": "s",
    "index_bytes_per_corpus_byte": "ratio",
}

PER_LAYER = {
    # build side: IndexBuild.timings and the checkpoint manifests
    "checkpoint.invariant_fingerprint_s": "s",
    "checkpoint.stage_docids_s": "s",
    "checkpoint.stage_postings_s": "s",
    "checkpoint.stage_blocks_s": "s",
    "segments.write_index_segments_s": "s",
    "postings.rows": "count",
    "blocks.rows": "count",
    "blocks.payload_bytes_per_posting": "B/posting",
    "checkpoint.bytes_written_per_corpus_byte": "ratio",
    # self times of each layer's public output, materialized in turn
    "tokenizer.tokens_s": "s",
    "postings.doc_term_counts_s": "s",
    "postings.class_term_counts_s": "s",
    "ctfidf.term_stats_s": "s",
    "ctfidf.ctfidf_s": "s",
    "ctfidf.top_k_terms_s": "s",
    "ctfidf.classes": "count",
    "ctfidf.vocab": "count",
    # serving path
    "segments.plan_ms": "ms",
    "segments.exec_ms": "ms",
    "segments.blocks_per_query": "count",
    "segments.payload_bytes_per_query": "B",
    "wand.postings_decoded_per_query": "count",
    "segments.results_per_decoded_posting": "ratio",
    "segments.late_over_early_p50": "ratio",
    "segments.index_server_p50_ms": "ms",
    # Spark work per primary operation
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    # incremental maintenance
    "incremental.topk_ms_by_generation": "ms/gen",
    "incremental.generations_live": "count",
    "incremental.bytes_written_per_appended_byte": "ratio",
    "incremental.compact_bytes_rewritten": "B",
    # the tracer itself
    "trace.overhead_s": "s",
}


def result(attempted: int, failed: int, values: dict, trace: bool) -> dict:
    """The benchmark's last output line: every metric of the mode, each
    with its unit. A missing or extra value is a harness bug."""
    spec = PER_LAYER if trace else END_TO_END
    if set(values) != set(spec):
        missing = sorted(set(spec) - set(values))
        extra = sorted(set(values) - set(spec))
        raise KeyError(f"metric set mismatch: missing {missing}, extra {extra}")
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": spec[k]} for k in spec},
    }
