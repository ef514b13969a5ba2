"""The workloads: ``ingest`` and ``serve``. Incremental maintenance runs
as a trace-only probe in both (see README.md).

Each runs in its own process with one SparkSession at ``local[nproc]``.
A workload has three phases:

* set-up (``setup_s``): session start, then the corpus load and doc-id
  assignment, repeated ``SETUP_REPS`` times with the median kept, plus the
  workload's own index preparation;
* untimed warm-up requests (``serve``; an ingest is a batch job and pays
  its cold start every time);
* a fixed sequence of operations (its length depends only on
  ``--seconds``), each timed from outside, in wall and CPU seconds of the
  process tree, around calls into the program's public functions. Answers
  are checked against the repository's oracles outside the timed region.

With tracing on, the same sequence runs with spans and per-operation
Spark counts, then trace-only probes measure the layers the workload
itself does not exercise, so every per-layer metric is reported.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from statistics import fmean, median
from typing import Callable, Dict, List

from perfbench import check, inputs, stats
from perfbench.cpuclock import tree_cpu_s
from perfbench.trace import Tracer

N_FILES = 250          # corpus size; per-operation cost is mostly Spark job overhead
SETUP_REPS = 3
K = 10                 # results per query
ORACLE_K = 2 * K       # the oracle ranks past k so ties at rank k are visible
BATCH_SIZE = 64
CLASS_COLS = ["lang", "repo"]
PROBE_QUERIES = 4      # trace-only serving probe on workloads that do not serve
INDEX_SERVER_QUERIES = 3

# Operation quotas: fixed counts derived from --seconds only, so the timed
# sequence takes about --seconds of wall time on a quiet 4-core box (an
# ingest round takes longer; there is always one; serve's singles take
# about 1.3 x --seconds and its batches about as long as --seconds). Never
# a deadline: serving latency drifts upward within a session, so a run that
# stopped on time would report a p50 that depends on the speed of the code
# under test.
INGEST_S_PER_ROUND = 20.0
SERVE_S_PER_QUERY = 1.0
SERVE_S_PER_BATCH = 4.0
INCREMENTAL_QUERIES_PER_CYCLE = 1
INCREMENTAL_QUERIES_AFTER_COMPACT = 1


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: int
    session: "Timing"
    attempted: int = 0
    failed: int = 0
    e2e: Dict[str, float] = field(default_factory=dict)
    layer: Dict[str, float] = field(default_factory=dict)
    detail: Dict[str, object] = field(default_factory=dict)

    def attempt(self, what: str, fn: Callable):
        """Run one operation; an exception counts it failed (None returned)."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # the run goes on; the failure is reported
            self.failed += 1
            log(f"{what} failed:\n{traceback.format_exc()}")
            return None

    def reject(self, what: str, n: int) -> None:
        if n:
            self.failed += n
            log(f"{what}: {n} answer(s) rejected by the oracle")


@dataclass(frozen=True)
class Timing:
    """Wall seconds and CPU seconds of the process tree for one call."""
    wall: float
    cpu: float


def _timed(fn: Callable):
    c, t = tree_cpu_s(), time.perf_counter()
    out = fn()
    # CPU time counts whole clock ticks; round off the float subtraction
    return out, Timing(time.perf_counter() - t, round(tree_cpu_s() - c, 6))


def walls(ts: List[Timing]) -> List[float]:
    return [t.wall for t in ts]


def cpus(ts: List[Timing]) -> List[float]:
    return [t.cpu for t in ts]


def _release(ctx: Ctx, corpus):
    """Drop every cached relation (Spark's cache manager would otherwise
    serve a repeated operation from the previous one's cache) and pin the
    corpus again, outside any timing."""
    ctx.spark.catalog.clearCache()
    corpus = corpus.persist()
    corpus.count()
    return corpus


# -- set-up ------------------------------------------------------------------

def _setup_corpus(ctx: Ctx):
    from bertopic_spark.corpus import generate_rows, load_corpus

    rows = generate_rows(N_FILES, ctx.seed)
    cache = os.path.join(ctx.work, "inputs")
    inputs.write_corpus(rows, N_FILES, ctx.seed, cache)
    loads = []
    for _ in range(SETUP_REPS):
        ctx.spark.catalog.clearCache()

        def load():
            c = load_corpus(ctx.spark, N_FILES, seed=ctx.seed, cache_dir=cache).persist()
            return c, c.count()

        (corpus, n), dt = _timed(load)
        if n != len(rows):
            raise RuntimeError(f"corpus load returned {n} rows, expected {len(rows)}")
        loads.append(dt)
    # doc_id is the rank of the natural key, so rows sorted by key line up
    # with doc ids (the oracles work on these Python rows)
    ordered = sorted(rows, key=lambda r: (r[0], r[1], r[2]))
    ctx.detail["corpus_fingerprint"] = inputs.corpus_fingerprint(rows)
    ctx.detail["corpus_docs"] = len(rows)
    ctx.detail["corpus_content_bytes"] = inputs.content_bytes(rows)
    log(f"corpus loads {loads}")
    return corpus, ordered, Timing(median(walls(loads)), median(cpus(loads)))


def _build_index(ctx: Ctx, corpus, root: str):
    """Full checkpointed build + segment write; returns (IndexBuild, seconds)."""
    from bertopic_spark.index.checkpoint import IndexBuild
    from bertopic_spark.index.segments import write_index_segments

    tr = ctx.tracer

    def build():
        ib = IndexBuild(ctx.spark, os.path.join(root, "checkpoint"))
        with tr.span("checkpoint.build"):
            blocks = ib.build(corpus)
        with tr.span("segments.write_index_segments"):
            write_index_segments(blocks, os.path.join(root, "segments"))
        return ib

    return _timed(build)


def _build_layers(ctx: Ctx, ib, root: str, content_bytes: int) -> None:
    """Per-layer build metrics from IndexBuild's public timings/manifests."""
    from pyspark.sql import functions as F

    tr = ctx.tracer
    st = ib.status()
    n_post = st["postings"]["rows"]
    with tr.bookkeeping():
        payload = (ctx.spark.read.parquet(os.path.join(root, "checkpoint", "blocks"))
                   .agg(F.sum(F.length("payload"))).collect()[0][0])
    written = (sum(s["bytes"] for s in st.values())
               + dir_bytes(os.path.join(root, "segments")))
    timings = ctx.detail.setdefault("index_build_timings", [])
    timings.append(dict(ib.timings))
    med = lambda key: median([t[key] for t in timings])  # noqa: E731
    ctx.layer.update({
        "checkpoint.invariant_fingerprint_s": med("invariant_fingerprint"),
        "checkpoint.stage_docids_s": med("stage_docids"),
        "checkpoint.stage_postings_s": med("stage_postings"),
        "checkpoint.stage_blocks_s": med("stage_blocks"),
        "segments.write_index_segments_s": median(
            tr.durations("segments.write_index_segments")),
        "postings.rows": n_post,
        "blocks.rows": st["blocks"]["rows"],
        "blocks.payload_bytes_per_posting": payload / n_post,
        "checkpoint.bytes_written_per_corpus_byte": written / content_bytes,
    })


# -- trace-only probes -------------------------------------------------------

def _layer_probe(ctx: Ctx, corpus) -> None:
    """Materialize each layer's public output in turn, persisting the
    previous one, so each span is (close to) that layer's self time."""
    from bertopic_spark.operators.ctfidf import ctfidf, term_stats, top_k_terms
    from bertopic_spark.operators.postings import class_term_counts, doc_term_counts
    from bertopic_spark.tokenizer import with_tokens

    tr = ctx.tracer
    keys = [*CLASS_COLS, "doc_id"]

    def mat(name, df):
        with tr.span(name):
            df = df.persist()
            n = df.count()
        return df, n, tr.durations(name)[-1]

    _, _, t_tok = mat("tokenizer.tokens",
                      with_tokens(corpus.select(*keys, "content"), "content")
                      .select(*keys, "tokens"))
    dt, _, t_dtc = mat("postings.doc_term_counts",
                       doc_term_counts(corpus, "content", keys))
    x, _, t_ctc = mat("postings.class_term_counts", class_term_counts(dt, CLASS_COLS))
    st, vocab, t_ts = mat("ctfidf.term_stats", term_stats(x, CLASS_COLS))
    sc, _, t_cf = mat("ctfidf.ctfidf", ctfidf(x, CLASS_COLS, stats=st))
    _, _, t_top = mat("ctfidf.top_k_terms", top_k_terms(sc, CLASS_COLS, K))
    ctx.layer.update({
        "tokenizer.tokens_s": t_tok,
        # doc_term_counts tokenizes internally: its self time excludes that
        "postings.doc_term_counts_s": max(0.0, t_dtc - t_tok),
        "postings.class_term_counts_s": t_ctc,
        "ctfidf.term_stats_s": t_ts,
        "ctfidf.ctfidf_s": t_cf,
        "ctfidf.top_k_terms_s": t_top,
        "ctfidf.classes": x.select(*CLASS_COLS).distinct().count(),
        "ctfidf.vocab": vocab,
    })
    ctx.spark.catalog.clearCache()


def _serve_one(ctx: Ctx, seg: str, qid: int, text: str):
    """One single-query request against the segment tree: (rows, seconds)."""
    from bertopic_spark.index.segments import serve_topk
    from bertopic_spark.tokenizer import tokenize_one

    tr = ctx.tracer

    def request():
        terms = sorted(set(tokenize_one(text)))
        with tr.span("segments.plan"):
            df = serve_topk(ctx.spark, seg, {qid: terms}, k=K)
        with tr.span("segments.exec"):
            return df.collect()

    with tr.op("query"):
        rows, dt = _timed(request)
    if tr.enabled:
        _scan_counts(ctx, seg, text, rows)
    return rows, dt


def _scan_counts(ctx: Ctx, seg: str, text: str, rows) -> None:
    """Blocks, payload bytes and postings the pruned scan hands the decoder."""
    from pyspark.sql import functions as F

    from bertopic_spark.index.segments import pruned_block_scan
    from bertopic_spark.tokenizer import tokenize_one

    with ctx.tracer.bookkeeping():
        terms = sorted(set(tokenize_one(text)))
        r = (pruned_block_scan(ctx.spark, seg, terms)
             .agg(F.count(F.lit(1)).alias("blocks"),
                  F.coalesce(F.sum(F.length("payload")), F.lit(0)).alias("bytes"),
                  F.coalesce(F.sum("n_docs"), F.lit(0)).alias("postings"))
             .collect()[0])
        ctx.detail.setdefault("scan_counts", []).append(
            {"blocks": r["blocks"], "bytes": r["bytes"],
             "postings": r["postings"], "results": len(rows)})


def _serving_layers(ctx: Ctx, lat_s: List[float]) -> None:
    tr = ctx.tracer
    sc = ctx.detail.get("scan_counts", [])
    n = len(sc)
    decoded = sum(c["postings"] for c in sc)
    ctx.layer.update({
        "segments.plan_ms": 1000 * median(tr.durations("segments.plan")),
        "segments.exec_ms": 1000 * median(tr.durations("segments.exec")),
        "segments.blocks_per_query": sum(c["blocks"] for c in sc) / n,
        "segments.payload_bytes_per_query": sum(c["bytes"] for c in sc) / n,
        "wand.postings_decoded_per_query": decoded / n,
        "segments.results_per_decoded_posting":
            sum(c["results"] for c in sc) / max(1, decoded),
        "segments.late_over_early_p50": stats.late_over_early(lat_s),
    })


def _index_server_probe(ctx: Ctx, seg: str, queries: Dict[int, str]) -> None:
    """The warm IndexServer.topk path beside the cold serve_topk path."""
    from bertopic_spark.index.segments import IndexServer
    from bertopic_spark.tokenizer import tokenize_one

    lat = []
    with IndexServer(ctx.spark, seg) as server:
        for qid, text in list(queries.items())[:INDEX_SERVER_QUERIES + 1]:
            terms = sorted(set(tokenize_one(text)))
            _, t = _timed(lambda: server.topk({qid: terms}, k=K).collect())
            lat.append(t.wall)
    # the first request warms the path; the rest are measured
    ctx.layer["segments.index_server_p50_ms"] = 1000 * median(lat[1:])
    ctx.spark.catalog.clearCache()


def _serve_probe(ctx: Ctx, seg: str) -> None:
    """Serving-layer metrics on a workload that does not serve."""
    queries = inputs.single_queries(PROBE_QUERIES + 1, ctx.seed)
    items = list(queries.items())
    with ctx.tracer.paused():  # untimed warm-up request
        _serve_one(ctx, seg, *items[0])
    lat = [_serve_one(ctx, seg, q, t)[1].wall for q, t in items[1:]]
    _serving_layers(ctx, lat)
    _index_server_probe(ctx, seg, queries)


def _spark_layers(ctx: Ctx, kind: str) -> None:
    ops = [o for o in ctx.tracer.ops if o["kind"] == kind]
    ctx.layer.update({
        "spark.jobs_per_op": median([o["jobs"] for o in ops]),
        "spark.stages_per_op": median([o["stages"] for o in ops]),
        "spark.tasks_per_op": median([o["tasks"] for o in ops]),
        "spark.failed_tasks": sum(o["failed_tasks"] for o in ctx.tracer.ops),
    })


def _oracle_topk(ctx: Ctx, corpus, queries: Dict[int, str]):
    """Exhaustive bm25_topk(doc_scores(...)) for every query, one job batch."""
    from bertopic_spark.operators.bm25 import bm25_topk, doc_scores, queries_df, query_terms

    qt = query_terms(queries_df(ctx.spark, queries))
    rows = bm25_topk(doc_scores(corpus), qt, k=ORACLE_K).collect()
    ctx.spark.catalog.clearCache()
    return check.hits_by_query(rows)


# -- workloads ---------------------------------------------------------------

def ingest(ctx: Ctx) -> None:
    """Full checkpointed build + segment write, then a topic-model fit.

    No warm-up: an ingest is a batch job, and a batch job pays the cold
    JVM on every run, so the first build and fit of the process are what
    a user waits for."""
    from bertopic_spark import oracle
    from bertopic_spark.index.blocks import DEFAULT_SPAN
    from bertopic_spark.model import BERTopicSpark
    from bertopic_spark.tokenizer import tokenize_many

    tr = ctx.tracer
    corpus, rows, load = _setup_corpus(ctx)
    ctx.e2e["setup_s"] = ctx.session.cpu + load.cpu

    # oracles: keywords per (lang, repo) class, and the index's row counts
    docs = [r[4] for r in rows]
    x = oracle.bow_per_class(docs, [(r[3], r[0]) for r in rows])
    want_topics = oracle.top_k_terms(oracle.ctfidf_scores(x), K)
    terms_per_doc = [set(t) for t in tokenize_many(docs)]
    want_rows = (sum(len(t) for t in terms_per_doc),
                 len({(t, d // DEFAULT_SPAN) for d, ts in enumerate(terms_per_doc) for t in ts}))

    def fit():
        model = BERTopicSpark(class_cols=CLASS_COLS).fit(corpus)
        return model.get_topics(K).collect()

    rounds = max(1, round(ctx.seconds / INGEST_S_PER_ROUND))
    builds, fits = [], []
    root = None
    for r in range(rounds):
        if root:
            shutil.rmtree(root, ignore_errors=True)
        root = os.path.join(ctx.work, "ingest", f"round{r}")
        with tr.op("build"):
            got = ctx.attempt("build", lambda: _build_index(ctx, corpus, root))
        if got:
            ib, t = got
            builds.append(t)
            st = ib.status()
            ctx.reject("postings/blocks row counts",
                       int((st["postings"]["rows"], st["blocks"]["rows"]) != want_rows))
            if tr.enabled:
                _build_layers(ctx, ib, root, ctx.detail["corpus_content_bytes"])
        with tr.op("fit"):
            got = ctx.attempt("fit", lambda: _timed(fit))
        if got:
            topics, t = got
            fits.append(t)
            have: Dict[tuple, list] = {}
            for row in sorted(topics, key=lambda x: (x["lang"], x["repo"], x["rank"])):
                have.setdefault((row["lang"], row["repo"]), []).append((row["term"], row["score"]))
            ctx.reject("topics", int(bool(check.rejected_classes(have, want_topics))))
        corpus = _release(ctx, corpus)
        log(f"ingest round {r}: build {builds[-1:]} s, fit {fits[-1:]} s")
    if not builds or not fits:
        raise RuntimeError("no ingest round completed")
    seg = os.path.join(root, "segments")
    ctx.e2e.update({
        "workload_wall_s": sum(walls(builds + fits)),
        "op_cpu_ms": 1000 * fmean(cpus(builds)),
        "heavy_op_cpu_s": fmean(cpus(fits)),
        "workload_cpu_s": sum(cpus(builds + fits)),
        "index_bytes_per_corpus_byte": dir_bytes(seg) / ctx.detail["corpus_content_bytes"],
    })
    ctx.detail.update({
        "build_docs_per_s": len(rows) / median(walls(builds)),
        "topics_fit_s": median(walls(fits)),
        "build": builds, "fit": fits,
    })
    if tr.enabled:
        ctx.layer["trace.overhead_s"] = tr.bookkeeping_s
        _spark_layers(ctx, "build")
        _layer_probe(ctx, corpus)
        _serve_probe(ctx, seg)
        _incremental_probe(ctx, corpus, rows)


def serve(ctx: Ctx) -> None:
    """Closed-loop single-query requests, then 64-query batch requests,
    against a segment tree built during set-up."""
    from bertopic_spark.index.segments import serve_topk
    from bertopic_spark.tokenizer import tokenize_one

    tr = ctx.tracer
    corpus, rows, load = _setup_corpus(ctx)
    root = os.path.join(ctx.work, "serve")
    with tr.op("build"):
        ib, build = _build_index(ctx, corpus, root)
    ctx.e2e["setup_s"] = ctx.session.cpu + load.cpu + build.cpu
    if tr.enabled:
        _build_layers(ctx, ib, root, ctx.detail["corpus_content_bytes"])
    corpus = _release(ctx, corpus)
    seg = os.path.join(root, "segments")

    n_single = max(4, round(ctx.seconds / SERVE_S_PER_QUERY))
    n_batch = max(1, round(ctx.seconds / SERVE_S_PER_BATCH))
    singles = inputs.single_queries(n_single, ctx.seed)
    batches = [inputs.batch_queries(b, BATCH_SIZE, ctx.seed, 1000 * (b + 1))
               for b in range(n_batch)]
    bookkeeping_before = tr.bookkeeping_s

    with tr.paused():  # untimed warm-up requests
        for qid, text in enumerate(inputs.warmup_queries(ctx.seed)):
            ctx.attempt("warm-up", lambda: _serve_one(ctx, seg, -1 - qid, text))

    got: Dict[int, list] = {}
    singles_t = []
    for qid, text in singles.items():
        out = ctx.attempt("query", lambda: _serve_one(ctx, seg, qid, text))
        if out:
            got.update(check.hits_by_query(out[0]))
            singles_t.append(out[1])
    batches_t = []
    for b, qs in enumerate(batches):
        terms = {q: sorted(set(tokenize_one(t))) for q, t in qs.items()}

        def request():
            return serve_topk(ctx.spark, seg, terms, k=K).collect()

        with tr.op("batch"):
            out = ctx.attempt("batch", lambda: _timed(request))
        if out:
            got.update(check.hits_by_query(out[0]))
            batches_t.append(out[1])
    log(f"serve: single queries {singles_t}, batches {batches_t}")

    # every answer is checked against the exhaustive oracle
    all_q = {**singles, **{q: t for qs in batches for q, t in qs.items()}}
    want = _oracle_topk(ctx, corpus, all_q)
    answered = [q for q in singles] + [q for qs in batches for q in qs]
    ctx.reject("serve", len(check.rejected_queries(got, want, answered, K)))

    ctx.e2e.update({
        "workload_wall_s": sum(walls(singles_t + batches_t)),
        "op_cpu_ms": 1000 * fmean(cpus(singles_t)),
        "heavy_op_cpu_s": fmean(cpus(batches_t)),
        "workload_cpu_s": sum(cpus(singles_t + batches_t)),
        "index_bytes_per_corpus_byte": dir_bytes(seg) / ctx.detail["corpus_content_bytes"],
    })
    p = stats.tail_percentile(len(singles_t))
    ctx.detail.update({
        "query_p50_ms": 1000 * median(walls(singles_t)),
        "query_tail_percentile": p,
        "query_tail_ms": None if p is None else 1000 * stats.percentile(walls(singles_t), p),
        "batch_qps": BATCH_SIZE * len(batches_t) / sum(walls(batches_t)),
        "single_queries": singles_t, "batches": batches_t,
    })
    if tr.enabled:
        ctx.layer["trace.overhead_s"] = tr.bookkeeping_s - bookkeeping_before
        _serving_layers(ctx, walls(singles_t))
        _spark_layers(ctx, "query")
        _index_server_probe(ctx, seg, singles)
        _layer_probe(ctx, corpus)
        _incremental_probe(ctx, corpus, rows)


def _incremental(ctx: Ctx, corpus, rows, cycles: int) -> dict:
    """IncrementalIndex.create + append of half the corpus, one untimed
    warm-up query, then ``cycles`` rounds of append N/20 docs,
    tombstone-delete 1% of the base and query, then compact() and query
    again. Answers given after the last mutation are
    checked against bm25_topk over a rebuild of the live documents."""
    import random

    from pyspark.sql import functions as F

    from bertopic_spark.index.incremental import IncrementalIndex
    from bertopic_spark.tokenizer import tokenize_one

    tr = ctx.tracer
    n = len(rows)
    half, step, n_del = n // 2, max(1, n // 20), max(1, n // 100)
    root = os.path.join(ctx.work, "incremental", "index")

    def docs(cond):
        return corpus.filter(cond).select("content", "doc_id")

    idx = IncrementalIndex.create(ctx.spark, root)
    idx.append(docs(F.col("doc_id") < half), id_col="doc_id")
    corpus = _release(ctx, corpus)

    n_q = cycles * INCREMENTAL_QUERIES_PER_CYCLE + INCREMENTAL_QUERIES_AFTER_COMPACT
    queries = inputs.single_queries(n_q + 1, ctx.seed)
    qitems = list(queries.items())
    to_delete = random.Random(ctx.seed).sample(range(half), cycles * n_del)

    def query(qid, text):
        terms = sorted(set(tokenize_one(text)))
        return idx.topk({qid: terms}, k=K).collect()

    with tr.paused():  # untimed warm-up request
        ctx.attempt("warm-up", lambda: query(*qitems[0]))
    qitems = qitems[1:]

    m = {"append": [], "delete": [], "query": [],
         "gens_at_query": [], "gen_bytes": 0, "appended_bytes": 0}
    checked: Dict[int, list] = {}

    def run_query(qid, text, final_state):
        with tr.op("query"):
            out = ctx.attempt("query", lambda: _timed(lambda: query(qid, text)))
        if out:
            m["query"].append(out[1])
            m["gens_at_query"].append(len(idx.manifest["gens"]))
            if final_state:
                checked[qid] = check.hits_by_query(out[0]).get(qid, [])

    for c in range(cycles):
        lo = half + c * step
        before = set(os.listdir(root))
        with tr.op("append"):
            out = ctx.attempt("append", lambda: _timed(lambda: idx.append(
                docs((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + step)),
                id_col="doc_id")))
        if out:
            m["append"].append(out[1])
            m["appended_bytes"] += sum(len(rows[i][4].encode())
                                       for i in range(lo, min(n, lo + step)))
        ids = to_delete[c * n_del:(c + 1) * n_del]
        with tr.op("delete"):
            out = ctx.attempt("delete", lambda: _timed(lambda: idx.delete(
                docs(F.col("doc_id").isin(ids)))))
        if out:
            m["delete"].append(out[1])
        m["gen_bytes"] += sum(dir_bytes(os.path.join(root, d))
                              for d in set(os.listdir(root)) - before)
        per = INCREMENTAL_QUERIES_PER_CYCLE
        for qid, text in qitems[c * per:(c + 1) * per]:
            run_query(qid, text, final_state=c == cycles - 1)
    m["gens_live"] = len(idx.manifest["gens"])
    with tr.op("compact"):
        out = ctx.attempt("compact", lambda: _timed(idx.compact))
    m["compact"] = out[1] if out else None
    m["compacted_bytes"] = dir_bytes(root)
    for qid, text in qitems[cycles * INCREMENTAL_QUERIES_PER_CYCLE:]:
        run_query(qid, text, final_state=True)
    log(f"incremental: {cycles} cycle(s), append {m['append']}, delete {m['delete']}, "
        f"compact {m['compact']}, queries {m['query']}")

    deleted = set(to_delete)
    live_hi = half + cycles * step
    live = corpus.filter((F.col("doc_id") < live_hi)
                         & ~F.col("doc_id").isin(sorted(deleted)))
    want = _oracle_topk(ctx, live, {q: queries[q] for q in checked})
    ctx.reject("incremental", len(check.rejected_queries(checked, want, list(checked), K)))
    return m


def _incremental_layers(ctx: Ctx, m: dict) -> None:
    ctx.layer.update({
        "incremental.topk_ms_by_generation":
            1000 * stats.slope(m["gens_at_query"], walls(m["query"])),
        "incremental.generations_live": m["gens_live"],
        "incremental.bytes_written_per_appended_byte":
            m["gen_bytes"] / max(1, m["appended_bytes"]),
        "incremental.compact_bytes_rewritten": m["compacted_bytes"],
    })


def _incremental_probe(ctx: Ctx, corpus, rows) -> None:
    """Trace-only: the incremental layers (one maintenance cycle)."""
    _incremental_layers(ctx, _incremental(ctx, corpus, rows, 1))


WORKLOADS = {"ingest": ingest, "serve": serve}
