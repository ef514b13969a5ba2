"""Doc-level BM25 retrieval — the exhaustive (oracle) query path.

Each document is its own class: the degenerate case of the c-TF-IDF math
(``_ctfidf.py:54-115``) with bm25_weighting. score(q, d) = Σ over the
query's distinct terms of the doc's term score; top-k by (score desc,
doc_id asc) — the deterministic tie-break that makes rank-identity survive
float summation-order jitter across cluster sizes.

Physical shape (SURVEY §3.2): the query set is small → broadcast the
tokenized query terms onto the postings (an inverted-index probe: only
postings of matching terms survive the join), then one groupBy(query, doc)
shuffle whose cardinality is |matching postings|, then a per-query window
top-k. No cross join, no dense matrix. The block-max pruned serving
kernel over compressed blocks (index/segments.py, ``query_topk``) must be
rank-identical to this.
"""

from __future__ import annotations

import math
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bertopic_spark.index.segments import score_col, tag_weight
from bertopic_spark.operators.ctfidf import ctfidf, term_stats
from bertopic_spark.operators.postings import doc_term_counts


def doc_scores(
    corpus: DataFrame,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    bm25_weighting: bool = True,
    reduce_frequent_words: bool = False,
    persist_counts: bool = True,
    _persisted_out: list | None = None,
    combine: str = "shuffle",
) -> DataFrame:
    """The scored doc-level index: (doc_id, term, tf, score, doc_len,
    weight).

    ``weight`` is the term's idf and ``doc_len`` the document's length,
    the two factors of score = tf / doc_len (its sqrt under
    ``reduce_frequent_words``) × weight; ``weight`` carries the scorer
    tag (segments.tag_weight), so ``build_block_index`` stores postings
    without scores and the serving kernel recomputes these values.

    ``combine`` is passed through to ``doc_term_counts``: "shuffle"
    (default, fastest single-box) vs "local" (zero-shuffle counting for
    network-bound clusters — see postings.doc_term_counts).

    The count relation feeds three consumers (idf stats, avg length, the
    scored join); their column pruning differs, so Catalyst's ReuseExchange
    can't dedupe them and tokenization would run 3×. Persisting the counts
    (``persist_counts``) makes the build a single tokenize pass — ~3×
    faster. The checkpointed IndexBuild path gets the same effect by
    materializing the postings stage to parquet. Callers running many
    builds in one session can collect the persisted handle via
    ``_persisted_out`` and unpersist after materializing.
    """
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True,
                        combine=combine)
    x = x.withColumnRenamed("doc_len", "class_len")
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    scored = ctfidf(
        x, [id_col],
        bm25_weighting=bm25_weighting,
        reduce_frequent_words=reduce_frequent_words,
        with_weight=True,
    )
    return scored.select(
        id_col, "term", "tf", "score", F.col("class_len").alias("doc_len"),
        tag_weight(F.col("idf"), "ctfidf",
                   reduce_frequent_words=bool(reduce_frequent_words)))


def queries_df(spark, queries: Mapping[int, str]) -> DataFrame:
    return spark.createDataFrame(
        [(int(k), v) for k, v in sorted(queries.items())],
        "query_id long, query_text string",
    )


def query_terms(qdf: DataFrame, mode: str = "ascii_code") -> DataFrame:
    """Distinct (query_id, term) — unweighted query bag (set semantics)."""
    from bertopic_spark.tokenizer import with_tokens

    return (
        with_tokens(qdf, "query_text", mode)
        .select("query_id", F.explode("tokens").alias("term"))
        .distinct()
    )


def bm25_topk_adhoc(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    bm25_weighting: bool = True,
    reduce_frequent_words: bool = False,
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Ad-hoc retrieval without a prebuilt index: identical results to
    ``bm25_topk(doc_scores(corpus), qterms)`` but the postings are
    SEMI-JOINED to the query's terms BEFORE the idf join and scoring, so
    the scored relation shrinks from |all postings| to |postings of query
    terms| (~100× at typical query widths). Global statistics still see
    every posting (term_stats is one partial-agg pass over the counts —
    that pass is irreducible: idf and avg length are corpus-wide).

    Catalyst will not reorder the two broadcast joins on its own (no CBO);
    the early filter is the explicit push-down.

    Cache lifetime: the counts relation feeds both term_stats and the
    scored join, so it is persisted (``persist_counts``). Long-lived
    sessions serving many ad-hoc batches should either pass
    ``persist_counts=False`` or pass a list as ``_persisted_out`` and
    ``unpersist()`` its entries once the returned plan is materialized —
    otherwise each call pins another copy in executor storage.
    """
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    x = x.withColumnRenamed("doc_len", "class_len")
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    stats = term_stats(x, [id_col], bm25_weighting=bm25_weighting)
    terms_only = qterms.select("term").distinct()
    xq = x.join(F.broadcast(terms_only), "term")
    scores = ctfidf(
        xq, [id_col],
        bm25_weighting=bm25_weighting,
        reduce_frequent_words=reduce_frequent_words,
        stats=stats.join(F.broadcast(terms_only), "term"),
    )
    return bm25_topk(scores, qterms, k, id_col)


def bm25_topk(
    scores: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """(query_id, doc_id, score, rank) — exhaustive top-k retrieval."""
    hits = (
        scores.join(F.broadcast(qterms), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum("score").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def dfs_shard_topk(
    scores: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    n_shards: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Two-phase scatter-gather top-k — ES ``dfs_query_then_fetch``
    (elasticsearch docs: search_type; Lucene distributed search): docs are
    hash-partitioned into ``n_shards`` shards, each shard computes a LOCAL
    top-k over its own candidates, and the coordinator merges the
    ``n_shards × k`` shard winners into the global top-k.

    The "DFS" phase is the global-statistics broadcast: ``scores`` carries
    corpus-wide idf / avgdl (doc_scores computes them over ALL shards), so
    a document's score is shard-independent. That makes the two-phase plan
    **rank-identical** to exhaustive :func:`bm25_topk`: every global top-k
    doc is ≥ its shard's k-th candidate, hence survives phase 1. Without
    the DFS phase (per-shard idf — ES's default ``query_then_fetch``),
    shard-local df skew shifts scores and can reorder results; see
    tests/test_shard_search.py for the demonstrated mis-ranking.

    100-TB shape: phase 1 is the existing postings probe plus ONE window
    pass partitioned by (query, shard) — same shuffle count as the
    exhaustive path, but the final per-query merge sorts n_shards·k rows
    instead of every matching doc, which is what a real scatter-gather
    coordinator sees. Spark's WindowGroupLimit pushes the shard-local
    top-k below the exchange (partial limit per map task).
    """
    hits = (
        scores.join(F.broadcast(qterms), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum("score").alias("score"))
        .withColumn("shard", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)))
    )
    wl = Window.partitionBy("query_id", "shard").orderBy(
        F.desc("score"), F.asc(id_col))
    local = (
        hits.withColumn("shard_rank", F.row_number().over(wl))
        .filter(F.col("shard_rank") <= k)
    )
    wg = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        local.withColumn("rank", F.row_number().over(wg))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def cori_shard_scores(
    corpus: DataFrame,
    qterms: DataFrame,
    n_shards: int = 8,
    b: float = 0.4,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """CORI resource selection (Callan, Lu & Croft, SIGIR 1995): rank
    index shards by how likely they are to hold relevant documents,
    BEFORE searching any of them — the inference-network belief

        T = df_{i,t} / (df_{i,t} + 50 + 150·cw_i/avg_cw)
        I = ln((n_shards + 0.5)/sf_t) / ln(n_shards + 1)
        p(t|S_i) = b + (1-b)·T·I

    averaged over the query's in-vocab terms (a term absent from shard i
    contributes the default belief ``b``; OOV-everywhere terms drop, as
    in every sibling operator). Output: (query_id, shard, belief, rank),
    every shard present per query, ranked belief-desc / shard-asc with
    beliefs rounded to 9 dp so selection is cross-engine deterministic.

    Shards are ``id mod n_shards`` (ids are non-negative by the corpus
    contract) — deterministic and oracle-able; a production layout would
    carry an explicit shard column, which callers can emulate by
    pre-assigning ids. Physical shape: the per-(shard, term) df relation
    is ONE extra partial agg over the same single tokenize pass; all
    probe joins broadcast query-sized or n_shards-sized relations. No
    (query, doc) shuffle — selection touches only shard-level stats
    (this is the point: at 10^12 files the broker consults k·|q| numbers,
    not the index)."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if not 0.0 <= b < 1.0:
        raise ValueError("b must be in [0, 1)")
    x = doc_term_counts(corpus, text_col, [id_col], mode)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    xs = x.withColumn("shard", F.pmod(F.col(id_col).cast("long"),
                                      F.lit(n_shards)))
    terms_only = qterms.select("term").distinct()
    # per-(shard, term) document frequency, pruned to query terms early
    sdf = (xs.join(F.broadcast(terms_only), "term", "left_semi")
           .groupBy("shard", "term").agg(F.count(F.lit(1)).alias("df")))
    cw = xs.groupBy("shard").agg(F.sum("tf").alias("cw"))
    avg_cw = cw.agg(F.avg("cw").alias("avg_cw"))
    sf = sdf.groupBy("term").agg(F.count(F.lit(1)).alias("sf"))
    t_part = F.col("df") / (F.col("df") + 50.0
                            + 150.0 * F.col("cw") / F.col("avg_cw"))
    i_part = (F.log((n_shards + 0.5) / F.col("sf"))
              / F.lit(math.log(n_shards + 1.0)))
    p = F.lit(b) + F.lit(1.0 - b) * t_part * i_part
    beliefs = (sdf.join(F.broadcast(sf), "term")
               .join(F.broadcast(cw), "shard")
               .crossJoin(F.broadcast(avg_cw))
               .select("shard", "term", p.alias("p")))
    # in-vocab query-term count (vocab = terms appearing in ANY shard)
    nv = (qterms.join(F.broadcast(sf.select("term")), "term")
          .groupBy("query_id").agg(F.count(F.lit(1)).alias("nv")))
    matched = (beliefs.join(F.broadcast(qterms), "term")
               .groupBy("query_id", "shard")
               .agg(F.sum("p").alias("sp"), F.count(F.lit(1)).alias("nm")))
    # every (query, shard) cell exists: unmatched shards get pure-default b
    grid = nv.select("query_id", "nv").crossJoin(
        F.broadcast(cw.select("shard")))
    full = (grid.join(matched, ["query_id", "shard"], "left")
            .select(
                "query_id", "shard",
                F.round((F.coalesce(F.col("sp"), F.lit(0.0))
                         + F.lit(b) * (F.col("nv")
                                       - F.coalesce(F.col("nm"), F.lit(0))))
                        / F.col("nv"), 9).alias("belief")))
    w = Window.partitionBy("query_id").orderBy(F.desc("belief"),
                                               F.asc("shard"))
    return full.withColumn("rank", F.row_number().over(w))


def selective_search_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    n_shards: int = 8,
    b: float = 0.4,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Selective search (Kulkarni & Callan, CIKM 2010 / TOIS 2015):
    CORI-rank the shards per query, then run BM25 over only the top
    ``n_probe`` shards — the federated-search architecture that serves
    web-scale corpora by touching a fraction of the index per query.

    Scoring uses GLOBAL collection statistics (the ``dfs_shard_topk``
    lesson: shard-local idf mis-ranks), so with ``n_probe == n_shards``
    the result is rank-identical to exhaustive :func:`bm25_topk_adhoc`
    (tested). The shard pruning lands BEFORE the (query, doc) scoring
    shuffle — candidates from unselected shards never enter it, so probe
    cost scales with n_probe/n_shards of the matched postings."""
    if not 1 <= n_probe <= n_shards:
        raise ValueError("n_probe must be in [1, n_shards]")
    sel = (cori_shard_scores(corpus, qterms, n_shards=n_shards, b=b,
                             text_col=text_col, id_col=id_col, mode=mode,
                             persist_counts=persist_counts,
                             _persisted_out=_persisted_out)
           .filter(F.col("rank") <= n_probe)
           .select("query_id", "shard"))
    scores = doc_scores(corpus, text_col=text_col, id_col=id_col, mode=mode,
                        persist_counts=persist_counts,
                        _persisted_out=_persisted_out)
    hits = (scores.join(F.broadcast(qterms), "term")
            .withColumn("shard", F.pmod(F.col(id_col).cast("long"),
                                        F.lit(n_shards)))
            .join(F.broadcast(sel), ["query_id", "shard"], "left_semi")
            .groupBy("query_id", id_col)
            .agg(F.sum("score").alias("score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def bm25_topk_minshould(
    scores: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    min_should: float = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Lucene ``minimum_should_match`` on a scored disjunction:
    (query_id, doc_id, score, n_matched, rank).

    Only documents containing at least ``min_should`` of the query's
    distinct terms survive. ``min_should`` < 1 is a fraction of the query's
    own width (ceil, per query — a 3-term query at 0.6 needs 2). Plan: the
    required-count threshold is one tiny per-query agg broadcast onto the
    same single groupBy(query, doc) pass bm25_topk already does — the
    distinct-matched count rides the existing shuffle for free (the
    (query, doc, term) rows entering the agg are already unique, scores
    being one row per (doc, term)), then the filter cuts candidates BEFORE
    the top-k window. At 100 TB the filter shrinks the window input
    superlinearly with query width: broad disjunctions are exactly where
    exhaustive top-k hurts.
    """
    qd = qterms.select("query_id", "term").distinct()
    need = qd.groupBy("query_id").agg(F.count(F.lit(1)).alias("nq"))
    if 0 < min_should < 1:
        need = need.select(
            "query_id", F.ceil(F.lit(float(min_should)) * F.col("nq"))
            .cast("long").alias("need"))
    else:
        need = need.select(
            "query_id", F.lit(int(min_should)).cast("long").alias("need"))
    hits = (
        scores.join(F.broadcast(qd), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum("score").alias("score"),
             F.count(F.lit(1)).cast("long").alias("n_matched"))
        .join(F.broadcast(need), "query_id")
        .filter(F.col("n_matched") >= F.col("need"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "n_matched", "rank")
    )


def lm_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    mu: float = 2000.0,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet-prior smoothing (Zhai &
    Lafferty, SIGIR 2001) — the canonical second ranking model next to
    BM25, decomposed into its index-friendly form:

        score(q,d) = Σ_{t∈q∩d} ln(1 + tf·|C| / (µ·cf_t))
                     + |q∩V|·ln(µ / (dl + µ))

    so only postings of matched terms are touched plus one doc-length
    term. OOV query terms (cf=0) are dropped, and candidates are docs
    matching ≥1 query term — both standard retrieval practice (a
    zero-match doc's score is query-independent noise).

    Physical shape mirrors ``bm25_topk_adhoc``: one tokenize pass over
    the corpus (persisted — it feeds collection stats AND the scored
    join), postings semi-joined to the query's terms before any scoring,
    collection stats (cf, |C|) one partial-agg pass (irreducible:
    corpus-wide, same as BM25's idf), doc length carried on the counts
    relation (no second per-doc join), one groupBy (query, doc) shuffle,
    WindowGroupLimit top-k.
    """
    if mu <= 0:
        raise ValueError("mu must be > 0")
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    cf = x.groupBy("term").agg(F.sum("tf").alias("cf"))
    tot = x.agg(F.sum("tf").alias("total"))
    terms_only = qterms.select("term").distinct()
    cfq = cf.join(F.broadcast(terms_only), "term").crossJoin(F.broadcast(tot))
    n_q = (qterms.join(F.broadcast(cfq.select("term")), "term")
           .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_q")))
    matched = (
        x.join(F.broadcast(qterms), "term")
        .join(F.broadcast(cfq), "term")
        .groupBy("query_id", id_col)
        .agg(
            F.sum(F.log(F.lit(1.0) + F.col("tf") * F.col("total") /
                        (F.lit(mu) * F.col("cf")))).alias("ql"),
            F.max("doc_len").alias("dl"),
        )
    )
    scored = matched.join(F.broadcast(n_q), "query_id").select(
        "query_id", id_col,
        (F.col("ql") + F.col("n_q") *
         F.log(F.lit(mu) / (F.col("dl") + F.lit(mu)))).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def quantize_impacts(scores: DataFrame, bits: int = 8,
                     id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """Impact quantization (Anh & Moffat, "Simplified similarity scoring
    using term ranks" / impact-ordered indexes; the storage model of
    score-at-a-time engines like JASS): map each posting's float score
    onto ``2^bits`` uniform levels over [0, max_score].

    Returns (impacts, meta): ``impacts`` = (id, term, q) with the INTEGER
    level q = min(2^bits − 1, ⌊(score − min)·2^bits / (max − min)⌋) —
    offset quantization, since BM25-idf scores can be negative; ``meta``
    = the 1-row (min_score, max_score, bits) relation serving
    reconstructs with. Scores and the bounds round to 6 dp and scale to
    BIGINT micro-units before quantizing, and the level is an INTEGER
    division — no float ⌊⌋ boundary can disagree between engines.

    At scale the integer levels delta+varint-compress far below float32
    postings and enable score-at-a-time early termination; here the win
    measured is the 8-bit payload and the certified error bound (see
    ``impact_topk``).
    """
    if not 1 <= bits <= 16:
        raise ValueError("bits must be in [1, 16]")
    levels = 1 << bits
    meta = scores.agg(F.round(F.min("score"), 6).alias("min_score"),
                      F.round(F.max("score"), 6).alias("max_score"),
                      F.lit(bits).alias("bits"))
    si = F.round(F.col("score") * 1e6, 0).cast("long")
    lo = F.round(F.col("min_score") * 1e6, 0).cast("long")
    hi = F.round(F.col("max_score") * 1e6, 0).cast("long")
    ri, rng = (si - lo) * levels, hi - lo
    imp = (scores.crossJoin(F.broadcast(meta))
           .select(id_col, "term",
                   F.when(rng == 0, F.lit(0)).otherwise(
                       F.least(F.lit(levels - 1),
                               (ri - F.pmod(ri, rng)) / rng))
                   .cast("int").alias("q")))
    return imp, meta


def impact_topk(impacts: DataFrame, meta: DataFrame, qterms: DataFrame,
                k: int = 10, id_col: str = "doc_id") -> DataFrame:
    """(query_id, id, score, err_bound, rank) — approximate top-k over the
    quantized-impact index: summed midpoint reconstructions
    min + (q + 0.5)·range/2^bits per matched posting. ``err_bound`` is
    the CERTIFIED per-result bound |approx − exact| ≤
    n_matched·range/2^(bits+1) (each posting's reconstruction is off by
    at most half a level) — callers needing rank guarantees re-rank the
    candidates whose score intervals overlap the k-th, exactly the
    standard two-phase impact-serving pattern. Physical shape identical
    to ``bm25_topk``: one broadcast probe join, one (query, doc) groupBy,
    WindowGroupLimit.
    """
    rng = F.col("max_score") - F.col("min_score")
    rec = (F.col("min_score") +
           (F.col("q") + 0.5) * rng / F.pow(F.lit(2.0), F.col("bits")))
    hits = (impacts.join(F.broadcast(qterms), "term")
            .crossJoin(F.broadcast(meta))
            .groupBy("query_id", id_col)
            .agg(F.sum(rec).alias("score"),
                 F.count(F.lit(1)).alias("_n"),
                 F.first(rng).alias("_r"),
                 F.first("bits").alias("_b")))
    scored = hits.select(
        "query_id", id_col, "score",
        (F.col("_n") * F.col("_r") /
         F.pow(F.lit(2.0), F.col("_b") + 1)).alias("err_bound"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "err_bound", "rank"))


def rm3_topk(corpus: DataFrame, qdf: DataFrame,
             r: int = 3, m: int = 5, lam: float = 0.5, k: int = 10,
             mu: float = 2000.0,
             text_col: str = "content", id_col: str = "doc_id",
             mode: str = "ascii_code", persist_counts: bool = True,
             _persisted_out: list | None = None) -> DataFrame:
    """RM3 pseudo-relevance feedback over query-likelihood retrieval
    (relevance models, Lavrenko & Croft SIGIR 2001; RM3 interpolation per
    Abdul-Jaleel et al., TREC 2004): (query_id, id, score, rank).

    Round 1 retrieves the top ``r`` docs per query with Dirichlet QL
    (same decomposition as ``lm_topk``). The relevance model RM1 weights
    each feedback-doc term by the doc's softmax posterior over round-1
    scores times its MLE doc-model probability tf/dl (the standard
    toolkit formulation); the top ``m`` RM1 terms renormalize and
    interpolate with the uniform original-query model at ``lam``:

        w(t) = lam·1/|q∩V| + (1−lam)·RM1_m(t)

    Round 2 scores with the weighted QL form — Σ_t w_t·ln(1 + tf·|C| /
    (µ·cf_t)) + (Σ_t w_t)·ln(µ/(dl+µ)) — so both rounds touch only
    postings of (expanded-)query terms.

    Cross-engine determinism: round-1 scores round to 6 dp BEFORE top-r
    selection and the softmax, and RM1/interpolated weights round to
    9 dp before their (desc, term asc) ranking, so the DuckDB oracle
    selects identical feedback docs and expansion terms.

    Physical shape: ONE persisted ``doc_term_counts`` pass feeds both
    rounds' probes, the collection stats and the doc models; every probe
    join broadcasts the query-sized side; the feedback join broadcasts
    the r·|queries| posterior rows. No cross join, two groupBy
    (query, doc) shuffles (one per round).
    """
    if r < 1 or m < 1 or k < 1:
        raise ValueError("r, m and k must be >= 1")
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    if mu <= 0:
        raise ValueError("mu must be > 0")
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    cf = x.groupBy("term").agg(F.sum("tf").alias("cf"))
    tot = x.agg(F.sum("tf").alias("total"))
    qterms = query_terms(qdf, mode)
    cfq = (cf.join(F.broadcast(qterms.select("term").distinct()), "term")
           .crossJoin(F.broadcast(tot)))
    n_q = (qterms.join(F.broadcast(cfq.select("term")), "term")
           .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_q")))

    def ql_scores(wq: DataFrame, cfw: DataFrame, wsum: DataFrame,
                  wcol) -> DataFrame:
        """Weighted QL: wq (query_id, term, w) probe; wsum (query_id, ws)."""
        hits = (x.join(F.broadcast(wq), "term")
                .join(F.broadcast(cfw), "term")
                .groupBy("query_id", id_col)
                .agg(F.sum(wcol * F.log(
                    F.lit(1.0) + F.col("tf") * F.col("total") /
                    (F.lit(mu) * F.col("cf")))).alias("ql"),
                    F.max("doc_len").alias("dl")))
        return hits.join(F.broadcast(wsum), "query_id").select(
            "query_id", id_col,
            (F.col("ql") + F.col("ws") *
             F.log(F.lit(mu) / (F.col("dl") + F.lit(mu)))).alias("score"))

    # round 1: unweighted (w = 1, ws = n_q), rounded for the oracle
    r1 = ql_scores(qterms.withColumn("w", F.lit(1.0)), cfq,
                   n_q.select("query_id", F.col("n_q").cast("double")
                              .alias("ws")), F.col("w"))
    r1 = r1.withColumn("score", F.round("score", 6))
    wr = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    fb_docs = (r1.withColumn("fr", F.row_number().over(wr))
               .filter(F.col("fr") <= r))
    wq_all = Window.partitionBy("query_id")
    post = (fb_docs
            .withColumn("_e", F.exp(F.col("score") - F.max("score").over(wq_all)))
            .withColumn("p", F.round(F.col("_e") / F.sum("_e").over(wq_all), 9))
            .select("query_id", id_col, "p"))

    # RM1 over feedback-doc postings: Σ_d p_d · tf/dl, top-m, renormalized
    fb = x.join(F.broadcast(post), id_col)
    rm1 = (fb.groupBy("query_id", "term")
           .agg(F.round(F.sum(F.col("p") * F.col("tf") / F.col("doc_len")),
                        9).alias("rw")))
    we = Window.partitionBy("query_id").orderBy(F.desc("rw"), F.asc("term"))
    topm = rm1.withColumn("er", F.row_number().over(we)).filter(F.col("er") <= m)
    expansion = topm.select(
        "query_id", "term",
        ((1.0 - lam) * F.col("rw") / F.sum("rw").over(wq_all)).alias("w"))
    orig = (qterms.join(F.broadcast(cfq.select("term")), "term")
            .join(F.broadcast(n_q), "query_id")
            .select("query_id", "term", (F.lit(lam) / F.col("n_q")).alias("w")))
    wgt = (orig.unionByName(expansion)
           .groupBy("query_id", "term")
           .agg(F.round(F.sum("w"), 9).alias("w"))
           # λ=1 zeroes expansion weights (λ=0 the originals): a 0-weight
           # term must not gate candidates — it adds no mass but would
           # admit prior-only docs
           .filter(F.col("w") > 0))
    cfe = (cf.join(F.broadcast(wgt.select("term").distinct()), "term")
           .crossJoin(F.broadcast(tot)))
    wsum = wgt.groupBy("query_id").agg(F.sum("w").alias("ws"))

    out = ql_scores(wgt, cfe, wsum, F.col("w"))
    wk = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (out.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def lm_jm_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    lam: float = 0.1,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Query-likelihood retrieval with Jelinek-Mercer smoothing (Zhai &
    Lafferty, SIGIR 2001; Lucene LMJelinekMercerSimilarity) — completes
    the LM family next to ``lm_topk``'s Dirichlet prior:

        score(q,d) = Σ_{t∈q∩d} ln(1 + ((1-λ)/λ) · (tf/dl) / (cf_t/|C|))

    λ≈0.1 suits short (title-like) queries, λ≈0.7 verbose ones (the
    published guidance). Unlike Dirichlet there is no per-doc constant —
    the score is a pure matched-term sum, so the plan is exactly the
    pruned inverted-index probe: postings semi-joined to the query terms
    before any arithmetic, collection stats one partial-agg pass, one
    groupBy (query, doc) shuffle, WindowGroupLimit top-k. OOV terms
    (cf=0) drop out and zero-match docs are never candidates, as in
    ``lm_topk``.
    """
    if not 0 < lam < 1:
        raise ValueError("lam must be in (0, 1)")
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    cf = x.groupBy("term").agg(F.sum("tf").alias("cf"))
    tot = x.agg(F.sum("tf").alias("total"))
    terms_only = qterms.select("term").distinct()
    cfq = cf.join(F.broadcast(terms_only), "term").crossJoin(F.broadcast(tot))
    ratio = F.lit((1.0 - lam) / lam)
    scored = (
        x.join(F.broadcast(qterms), "term")
        .join(F.broadcast(cfq), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(F.log(
            F.lit(1.0) + ratio * (F.col("tf") / F.col("doc_len"))
            / (F.col("cf") / F.col("total")))).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def dfr_pl2_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    c: float = 1.0,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Divergence-From-Randomness retrieval, PL2 model (Amati & van
    Rijsbergen, TOIS 2002; Terrier's default, Lucene DFRSimilarity with
    P/L/2): Poisson randomness model, Laplace after-effect, normalization
    2. Completes the classical similarity family next to BM25/Okapi,
    LM-Dirichlet and LM-JM over the SAME pruned inverted-index probe:

        tfn      = tf · ln(1 + c · avg_dl / dl)
        λ_t      = cf_t / N
        score(d) = Σ_{t∈q∩d} (tfn·ln(tfn/λ_t) + (λ_t - tfn)
                              + 0.5·ln(2π·tfn)) / (tfn + 1)

    (natural-log formulation — identical ranking to the log2 one, and
    byte-reproducible across engines). Collection stats (N, avg_dl, cf)
    are one partial-agg pass; query terms broadcast onto the postings
    before any arithmetic; one (query, doc) shuffle; WindowGroupLimit
    top-k. OOV terms drop out via the cf inner join; zero-match docs are
    never candidates."""
    if c <= 0:
        raise ValueError("c must be > 0")
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    cf = x.groupBy("term").agg(F.sum("tf").alias("cf"))
    coll = (x.groupBy(id_col).agg(F.first("doc_len").alias("dl"))
            .agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avg_dl")))
    terms_only = qterms.select("term").distinct()
    cfq = cf.join(F.broadcast(terms_only), "term").crossJoin(F.broadcast(coll))
    tfn = F.col("tf") * F.log(F.lit(1.0)
                              + F.lit(c) * F.col("avg_dl") / F.col("doc_len"))
    lam = F.col("cf") / F.col("n_docs")
    gain = (tfn * F.log(tfn / lam) + (lam - tfn)
            + F.lit(0.5) * F.log(F.lit(2.0 * math.pi) * tfn)) / (tfn + 1)
    scored = (
        x.join(F.broadcast(qterms), "term")
        .join(F.broadcast(cfq), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(gain).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def dfi_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Divergence-From-Independence retrieval (Kocabaş, Dinçer &
    Karaoğlan, IRJ 2014; Lucene DFISimilarity, standardized measure):
    non-parametric — no tuning constants at all. Expected tf under
    independence is e = dl·cf/T; a term contributes only when observed
    tf exceeds it (Lucene's ``freq <= expected → 0`` rule, which also
    makes stop-terms self-pruning):

        score(d) = Σ_{t∈q∩d, tf>e} ln(1 + (tf - e)/√e)

    Same physical plan as the other similarity operators: broadcast
    query-term semi-join below all arithmetic, single (query, doc)
    shuffle, WindowGroupLimit top-k."""
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    cf = x.groupBy("term").agg(F.sum("tf").alias("cf"))
    tot = x.agg(F.sum("tf").alias("total"))
    terms_only = qterms.select("term").distinct()
    cfq = cf.join(F.broadcast(terms_only), "term").crossJoin(F.broadcast(tot))
    e = F.col("doc_len") * F.col("cf") / F.col("total")
    gain = F.when(
        F.col("tf") > e,
        F.log(F.lit(1.0) + (F.col("tf") - e) / F.sqrt(e))).otherwise(F.lit(0.0))
    scored = (
        x.join(F.broadcast(qterms), "term")
        .join(F.broadcast(cfq), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(gain).alias("score"))
        .filter(F.col("score") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def ib_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    distribution: str = "ll",
    c: float = 1.0,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Information-Based retrieval (Clinchant & Gaussier, SIGIR 2010;
    Lucene IBSimilarity): the last classical family next to
    BM25/DFR/DFI/LM — score is the information content -ln P(tfn) of the
    observed normalized frequency under a fitted frequency distribution.
    Natural-log H2 length normalization and the document-frequency
    lambda (Lucene LambdaDF):

        tfn = tf · ln(1 + c · avg_dl / dl)        λ_t = (df_t+1)/(N+1)
        LL  (log-logistic):       gain = ln(1 + tfn/λ_t)
        SPL (smoothed power-law): gain = -ln((λ_t^(tfn/(tfn+1)) - λ_t)
                                             / (1 - λ_t))

    Both are 0 at tfn=0; SPL is guarded at λ=1 (term in every doc scores
    0 — the correct information-content limit). Physical plan identical
    to the sibling operators: collection stats in one partial-agg pass,
    broadcast query-term semi-join below all arithmetic, one
    (query, doc) shuffle, WindowGroupLimit top-k."""
    if distribution not in ("ll", "spl"):
        raise ValueError(f"distribution must be 'll' or 'spl', got {distribution!r}")
    if c <= 0:
        raise ValueError("c must be > 0")
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    dft = x.groupBy("term").agg(F.count("*").alias("df"))
    coll = (x.groupBy(id_col).agg(F.first("doc_len").alias("dl"))
            .agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avg_dl")))
    terms_only = qterms.select("term").distinct()
    dfq = dft.join(F.broadcast(terms_only), "term").crossJoin(F.broadcast(coll))
    tfn = F.col("tf") * F.log(F.lit(1.0)
                              + F.lit(c) * F.col("avg_dl") / F.col("doc_len"))
    lam = (F.col("df") + 1) / (F.col("n_docs") + 1)
    if distribution == "ll":
        gain = F.log(F.lit(1.0) + tfn / lam)
    else:
        spl = -F.log((F.pow(lam, tfn / (tfn + 1)) - lam) / (F.lit(1.0) - lam))
        gain = F.when(lam < 1.0, spl).otherwise(F.lit(0.0))
    scored = (
        x.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfq), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(gain).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def axiomatic_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    variant: str = "f2exp",
    s: float = 0.5,
    gamma: float = 0.35,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Axiomatic retrieval, F2EXP / F2LOG (Fang & Zhai, SIGIR 2005;
    Lucene AxiomaticF2EXP/F2LOG): the function derived constructively
    from the seven retrieval constraints rather than from a probability
    model — TF saturation is a pure ratio (no k1 knob) and length
    normalization is additive in the denominator:

        F2EXP: score(d) = Σ_{t∈q∩d} ((N+1)/df_t)^γ · tf/(tf + s + s·dl/avg_dl)
        F2LOG: idf part replaced by ln((N+1)/df_t)

    γ=0.35, s=0.5 are the paper's (and Lucene's) defaults. Same
    physical plan as the sibling similarity operators."""
    if variant not in ("f2exp", "f2log"):
        raise ValueError(f"variant must be 'f2exp' or 'f2log', got {variant!r}")
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    dft = x.groupBy("term").agg(F.count("*").alias("df"))
    coll = (x.groupBy(id_col).agg(F.first("doc_len").alias("dl"))
            .agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avg_dl")))
    terms_only = qterms.select("term").distinct()
    dfq = dft.join(F.broadcast(terms_only), "term").crossJoin(F.broadcast(coll))
    ratio = (F.col("n_docs") + 1) / F.col("df")
    idf = (F.pow(ratio, F.lit(gamma)) if variant == "f2exp" else F.log(ratio))
    tfpart = F.col("tf") / (F.col("tf") + F.lit(s)
                            + F.lit(s) * F.col("doc_len") / F.col("avg_dl"))
    scored = (
        x.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfq), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(idf * tfpart).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def classic_tfidf_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Classic TF-IDF vector-space retrieval (Salton's VSM as shipped by
    Lucene ClassicSimilarity, the pre-BM25 default) — the last member of
    the classical similarity family next to Okapi/LM/DFR/DFI/IB/Axiomatic:

        score(d) = Σ_{t∈q∩d} sqrt(tf) · idf_t² · 1/sqrt(dl)
        idf_t    = 1 + ln((N+1)/(df_t+1))

    idf appears SQUARED because Lucene weights both the query term and the
    document term by idf (query tf = 1 here). Exact float arithmetic — the
    engine deliberately skips Lucene's lossy 1-byte norm quantization,
    which is a memory-format artifact, not ranking semantics. Physical
    plan identical to the sibling operators: collection stats in one
    partial-agg pass, broadcast query-term semi-join below all arithmetic,
    one (query, doc) shuffle, WindowGroupLimit top-k. OOV terms drop out
    via the df inner join."""
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    dft = x.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = x.groupBy(id_col).agg(F.lit(1).alias("_one")).agg(
        F.count("*").alias("n_docs"))
    terms_only = qterms.select("term").distinct()
    dfq = dft.join(F.broadcast(terms_only), "term").crossJoin(
        F.broadcast(ndocs))
    idf = F.lit(1.0) + F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
    gain = F.sqrt(F.col("tf")) * idf * idf / F.sqrt(F.col("doc_len"))
    scored = (
        x.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfq), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(gain).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def okapi_doc_scores(
    corpus: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Okapi-scored doc-level index: (doc_id, term, tf, score, doc_len,
    weight) with
    score = idf_RSJ(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) — the
    per-term decomposition of classical BM25; ``weight`` is idf_RSJ(t),
    tagged with the scorer and its k1, b and avgdl (segments.tag_weight),
    so
    ``bm25_topk(okapi_doc_scores(c), q)`` ≡ ``okapi_bm25_topk(c, q)``
    and the relation feeds every downstream serving structure unchanged:
    ``build_block_index``/WAND (block-max bounds are tighter AND the
    scores are non-negative — the textbook precondition champion-list
    tiering wants, cf. jobs/tiered_ab.py), ``prune_index``,
    ``champion_lists``.
    """
    if k1 < 0 or not 0.0 <= b <= 1.0:
        raise ValueError("need k1 >= 0 and 0 <= b <= 1")
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    row = (x.groupBy(id_col).agg(F.max("doc_len").alias("dl"))
           .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
           .collect()[0])
    n_docs, avgdl = int(row["n"]), row["avgdl"]
    scorer = {"k1": float(k1), "b": float(b), "avgdl": float(avgdl or 0.0)}
    weight = tag_weight(F.col("weight"), "okapi", **scorer)
    if n_docs == 0:
        return x.select(id_col, "term", "tf", F.lit(0.0).alias("score"),
                        "doc_len", F.lit(0.0).alias("weight")
                        ).select(id_col, "term", "tf", "score", "doc_len",
                                 weight).limit(0)
    dfs = x.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) /
                (F.col("df") + 0.5))
    return (x.join(dfs.select("term", idf.alias("weight")), "term")
            .select(id_col, "term", "tf",
                    score_col({"scorer": "okapi", **scorer}).alias("score"),
                    "doc_len", weight))


def search_after(
    scores: DataFrame,
    qterms: DataFrame,
    cursors: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Keyset pagination (Elasticsearch search_after analog): the next
    ``k`` hits strictly after a per-query cursor in the global
    (score desc, doc_id asc) order. ``cursors`` is (query_id,
    after_score, after_doc) — normally the last hit of the previous page.

    Deep paging via OFFSET forces every page to rank all prior pages;
    the keyset filter instead prunes candidates BEFORE the window, so
    page N costs the same as page 1. Returned ``rank`` continues the
    global numbering (cursor rank + i), proven against the offset
    formulation by the oracle gate.

    Cursor stability contract: the boundary comparison is an EQUALITY on
    the recomputed float score, which is bit-stable only while the
    scoring plan is (pages served from one session / one persisted
    relation). For cursors that must survive across sessions or plan
    changes, pass ``round_dp`` — hit scores are rounded to that many
    decimals before comparison AND in the output, so a stored cursor
    re-enters on quantized values immune to float summation-order
    jitter (ranking then tie-breaks on doc_id within a quantum, exactly
    like the oracle's rounded compare).
    """
    hits = (
        scores.join(F.broadcast(qterms), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum("score").alias("score"))
    )
    if round_dp is not None:
        hits = hits.withColumn("score", F.round("score", round_dp))
    cur = cursors.select(
        "query_id", F.col("after_score").alias("_as"),
        F.col("after_doc").alias("_ad"),
        F.coalesce(F.col("after_rank"), F.lit(0)).alias("_ar")
        if "after_rank" in cursors.columns else F.lit(0).alias("_ar"))
    paged = (hits.join(F.broadcast(cur), "query_id")
             .filter((F.col("score") < F.col("_as")) |
                     ((F.col("score") == F.col("_as")) &
                      (F.col(id_col) > F.col("_ad")))))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (paged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("query_id", id_col, "score",
                    (F.col("_ar") + F.col("_rn")).cast("int").alias("rank")))


def okapi_bm25_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Classical Okapi BM25 (Robertson et al., TREC-3) — tf saturation and
    explicit length normalization, distinct from the engine's
    BERTopic-parity class-based weighting (``doc_scores``/`bm25_topk``,
    reference ``_ctfidf.py``):

        score(q,d) = Σ_{t∈q∩d} ln(1 + (N - df + 0.5)/(df + 0.5)) ·
                     tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    (the Lucene idf variant — non-negative by construction, so the
    champion/WAND bound machinery gets its textbook preconditions here).
    Same physical shape as ``lm_topk``: one tokenize pass, postings
    semi-joined to query terms before scoring, df/avgdl one partial-agg
    pass, broadcast stats, one (query, doc) shuffle, WindowGroupLimit.
    """
    if k1 < 0 or not 0.0 <= b <= 1.0:
        raise ValueError("need k1 >= 0 and 0 <= b <= 1")
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    row = (x.groupBy(id_col).agg(F.max("doc_len").alias("dl"))
           .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
           .collect()[0])
    n_docs, avgdl = int(row["n"]), row["avgdl"]
    if n_docs == 0:
        return _empty_topk(corpus.sparkSession, id_col)
    terms_only = qterms.select("term").distinct()
    dfs = (x.join(F.broadcast(terms_only), "term")
           .groupBy("term").agg(F.countDistinct(id_col).alias("df")))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) /
                (F.col("df") + 0.5))
    denom = (F.col("tf") + F.lit(k1) *
             (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avgdl)))
    hits = (
        x.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfs.select("term", idf.alias("idf"))), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(F.col("idf") * F.col("tf") * F.lit(k1 + 1.0) / denom)
             .alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def _empty_topk(spark, id_col: str = "doc_id") -> DataFrame:
    """Empty (query_id, doc_id, score, rank) relation."""
    return spark.createDataFrame(
        [], f"query_id long, {id_col} long, score double, rank int")


def _okapi_query_hits(corpus: DataFrame, qterms: DataFrame, k1: float,
                      b: float, text_col: str, id_col: str, mode: str,
                      _persisted_out: list | None = None,
                      counts: DataFrame | None = None) -> DataFrame:
    """Per-field Okapi partial: (query_id, id_col, score) with THIS
    field's own df/avgdl stats — the per-field leg of ``multi_match_topk``
    (same plan shape as ``okapi_bm25_topk`` minus the rank window).
    ``counts``: optionally a precomputed (id, term, tf, doc_len) relation
    (callers sharing one tokenize pass across consumers pass their own
    persisted handle; it is NOT re-persisted here)."""
    if counts is not None:
        x = counts
    else:
        x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    row = (x.groupBy(id_col).agg(F.max("doc_len").alias("dl"))
           .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
           .collect()[0])
    n_docs, avgdl = int(row["n"]), row["avgdl"]
    if n_docs == 0:
        return corpus.sparkSession.createDataFrame(
            [], f"query_id long, {id_col} long, score double")
    terms_only = qterms.select("term").distinct()
    dfs = (x.join(F.broadcast(terms_only), "term")
           .groupBy("term").agg(F.countDistinct(id_col).alias("df")))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) /
                (F.col("df") + 0.5))
    denom = (F.col("tf") + F.lit(k1) *
             (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avgdl)))
    return (
        x.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfs.select("term", idf.alias("idf"))), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(F.col("idf") * F.col("tf") * F.lit(k1 + 1.0) / denom)
             .alias("score"))
    )


_FVF_MODIFIERS = ("none", "ln1p", "log1p", "sqrt")


def field_value_factor_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    field: str,
    k: int = 10,
    factor: float = 1.0,
    modifier: str = "ln1p",
    boost_mode: str = "multiply",
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    _persisted_out: list | None = None,
) -> DataFrame:
    """ES ``function_score`` with ``field_value_factor``: blend a per-doc
    numeric signal (stars, recency rank, length — here any numeric
    ``field``) into the Okapi relevance score:

        fvf = modifier(factor · field)        modifier ∈ none|ln1p|sqrt
        score = bm25 · fvf   (boost_mode=multiply)  or  bm25 + fvf (sum)

    The static-signal boost every production search deployment runs
    (popularity/recency blending). Physically: the Okapi hits leg
    (broadcast query joins) joined to the corpus's (id, field) projection
    — pruned to two columns at the scan — then one rank window. The
    ranking happens AFTER modification, so this is not a rescore of a
    fixed top-k: docs outside the raw-BM25 top-k can enter.
    """
    if modifier not in _FVF_MODIFIERS:
        raise ValueError(f"modifier must be one of {_FVF_MODIFIERS}")
    if boost_mode not in ("multiply", "sum"):
        raise ValueError("boost_mode must be 'multiply' or 'sum'")
    hits = _okapi_query_hits(corpus, qterms, k1, b, text_col, id_col, mode,
                             _persisted_out=_persisted_out)
    v = F.col(field).cast("double") * F.lit(float(factor))
    fvf = {"none": v, "ln1p": F.log1p(v), "log1p": F.log1p(v),
           "sqrt": F.sqrt(v)}[modifier]
    sig = corpus.select(F.col(id_col), fvf.alias("_fvf"))
    blended = (F.col("score") * F.col("_fvf") if boost_mode == "multiply"
               else F.col("score") + F.col("_fvf"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (hits.join(sig, id_col)
            .select("query_id", id_col, blended.alias("score"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def multi_match_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    fields: Mapping[str, float],
    k: int = 10,
    tie_breaker: float = 0.0,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    _persisted_out: list | None = None,
) -> DataFrame:
    """ES ``multi_match`` type=best_fields: each field is Okapi-scored
    independently with its OWN df/avgdl statistics and boost, then per
    (query, doc)

        score = max_f(boost_f · s_f) + tie_breaker · Σ_{f≠argmax}(boost_f · s_f)

    (tie_breaker=0 is pure dis_max; 1.0 degenerates to a bool-should
    sum — both ES-documented special cases). Physical shape: one
    tokenize+agg pass PER FIELD (fields have different stats by
    definition, so this is inherent, not waste), each leg broadcast-joined
    to the query terms, then one union + (query, doc) agg — at 100 TB the
    union agg shuffles only (query, doc, score) triples already pruned to
    matching docs. Reference semantics: ES multi_match best_fields /
    Lucene DisjunctionMaxQuery(tieBreakerMultiplier).
    """
    if not fields:
        raise ValueError("fields must be a non-empty {column: boost} map")
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    legs = []
    for col, boost in fields.items():
        h = _okapi_query_hits(corpus, qterms, k1, b, col, id_col, mode,
                              _persisted_out=_persisted_out)
        legs.append(h.select("query_id", id_col,
                             (F.col("score") * F.lit(float(boost)))
                             .alias("fscore")))
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionAll(leg)
    combined = (
        u.groupBy("query_id", id_col)
        .agg((F.max("fscore") +
              F.lit(float(tie_breaker)) * (F.sum("fscore") - F.max("fscore")))
             .alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (combined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def explain_topk(
    scores: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Lucene-explain analog: the per-term score breakdown of every top-k
    hit — (query_id, doc_id, term, tf, contribution, score, rank), one row
    per matched (hit, term), where Σ contribution over the doc = score.
    The debugging/audit surface behind "why did this doc rank here?".

    Physical shape: the top-k hits (k·|q| rows) broadcast back onto the
    query-pruned postings — the breakdown join touches only postings of
    query terms, and only rows for ranked docs survive.
    """
    hits = bm25_topk(scores, qterms, k, id_col).withColumnRenamed(
        "score", "doc_score")
    pruned = scores.join(F.broadcast(qterms), "term")
    return (pruned.join(F.broadcast(hits), ["query_id", id_col])
            .select("query_id", id_col, "term", "tf",
                    F.col("score").alias("contribution"),
                    F.col("doc_score").alias("score"), "rank"))


def champion_lists(scores: DataFrame, m: int = 64,
                   id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """Tier-1 champion lists (Manning IR §7.1.3): per term the top-``m``
    postings by (score desc, id asc), plus the per-term escape bound
    ``smin_out`` = the weakest kept score when the list was truncated,
    0.0 when the champion list is the COMPLETE posting list (df ≤ m —
    then no non-champion posting exists and the term can never
    contribute undercount). Returns (champions, bounds).

    One window pass partitioned by term — same shuffle shape as
    ``prune_index``; at scale both relations are materialized offline
    (champions are ~m·|vocab| rows, bounds |vocab| rows).
    """
    if m < 1:
        raise ValueError("m must be >= 1")
    w = Window.partitionBy("term").orderBy(F.desc("score"), F.asc(id_col))
    wc = Window.partitionBy("term")
    ranked = (scores.withColumn("_rn", F.row_number().over(w))
              .withColumn("_df", F.count(F.lit(1)).over(wc)))
    ch = ranked.filter(F.col("_rn") <= m)
    bounds = (ch.groupBy("term")
              .agg(F.min("score").alias("_kth"), F.max("_df").alias("_df"))
              .select(
                  "term",
                  F.when(F.col("_df") > m, F.col("_kth"))
                  .otherwise(F.lit(0.0)).alias("smin_out"),
                  (F.col("_df") > m).cast("long").alias("incomplete")))
    return ch.drop("_rn", "_df"), bounds


def tiered_bm25_topk(
    scores: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    m: int = 64,
    id_col: str = "doc_id",
    champions: tuple[DataFrame, DataFrame] | None = None,
    _report_out: dict | None = None,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Tiered serving with a PROVABLE per-query rank-safety certificate:
    answer from the tier-1 champion lists when the bounds certify the
    result equals the exhaustive top-k (docs, scores AND ranks); escalate
    only the uncertified queries to the full index. Output is therefore
    ALWAYS rank-identical to ``bm25_topk`` — the tier is a physical
    optimization, never a semantics change.

    Certificate (scores may be negative — BM25's clamped idf admits them,
    which cuts both ways: an unseen non-champion match can RAISE or LOWER
    a doc's true score):
    * upper bounds: for candidate d, ub(d) = tier1(d) +
      Σ_{t∈q, d∉champ(t)} max(smin_out(t), 0) — an unseen contribution is
      either absent (0) or ≤ smin_out(t); a doc in no champion list is
      bounded by ub_out = Σ_t max(smin_out(t), 0).
    * exactness: tier1(d) equals the true score iff every query term is
      either matched by d inside its champion list or has a COMPLETE
      champion list (df ≤ m — no unseen posting can exist). A negative
      unseen match on a truncated term would silently lower the true
      score below tier1(d), so "smin_out ≤ 0" is NOT sufficient.
    With θ = the k-th candidate's tier1 score, the answer is certified
    iff ≥k candidates exist, every returned doc is exact, θ > every
    non-returned candidate's ub, and θ > ub_out (ties escalate —
    conservative).

    Physical shape: champion postings are ≤ m·|q| rows per query
    (broadcast-joined, one (query, doc) groupBy); the certificate is one
    per-query agg; only failed query ids (batch-sized) are collected to
    route the escalation subset through ``bm25_topk``.
    """
    ch, bounds = champions if champions is not None else champion_lists(
        scores, m, id_col)
    qb = (qterms.join(bounds, "term", "left")
          .select("query_id",
                  F.greatest(F.coalesce("smin_out", F.lit(0.0)),
                             F.lit(0.0)).alias("smin_pos"),
                  F.coalesce("incomplete", F.lit(0)).alias("incomplete")))
    q_out = qb.groupBy("query_id").agg(
        F.sum("smin_pos").alias("ub_out"),
        F.sum("incomplete").alias("n_inc"))
    cand = (ch.join(F.broadcast(qterms), "term")
            .join(F.broadcast(bounds), "term")
            .groupBy("query_id", id_col)
            .agg(F.sum("score").alias("lb"),
                 F.sum(F.greatest("smin_out", F.lit(0.0))).alias("_msp"),
                 F.sum("incomplete").alias("_minc")))
    cand = cand.join(F.broadcast(q_out), "query_id").select(
        "query_id", id_col, "lb",
        (F.col("lb") + F.col("ub_out") - F.col("_msp")).alias("ub"),
        "ub_out", "n_inc",
        # exact iff every incomplete query term was matched inside its
        # champion list (complete terms can never hide a posting)
        (F.col("_minc") == F.col("n_inc")).cast("int").alias("exact"))
    w = Window.partitionBy("query_id").orderBy(F.desc("lb"), F.asc(id_col))
    # persisted: the candidate relation feeds the certificate agg AND the
    # tier-1 answer. Same cache-lifetime contract as bm25.py's other
    # serving ops: long-lived sessions collect the handle via
    # ``_persisted_out`` and unpersist after materializing each batch.
    ranked = cand.withColumn("rn", F.row_number().over(w)).persist()
    if _persisted_out is not None:
        _persisted_out.append(ranked)
    neg_inf = F.lit(float("-inf"))
    cert = ranked.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.min(F.when(F.col("rn") <= k, F.col("exact"))).alias("all_exact"),
        F.min(F.when(F.col("rn") <= k, F.col("lb"))).alias("theta"),
        F.coalesce(F.max(F.when(F.col("rn") > k, F.col("ub"))),
                   neg_inf).alias("rest_ub"),
        # a matching-but-unseen doc must match ≥1 INCOMPLETE term; with
        # every list complete no such doc exists and the bound is vacuous
        F.max(F.when(F.col("n_inc") > 0, F.col("ub_out"))
              .otherwise(neg_inf)).alias("ub_out"),
    )
    safe = ((F.col("n_cand") >= k) & (F.col("all_exact") == 1) &
            (F.col("theta") > F.col("rest_ub")) &
            (F.col("theta") > F.col("ub_out")))
    verdicts = {r["query_id"]: bool(r["ok"]) for r in
                cert.select("query_id", safe.alias("ok")).collect()}
    all_qids = [r["query_id"] for r in
                qterms.select("query_id").distinct().collect()]
    served = sorted(q for q in all_qids if verdicts.get(q, False))
    escalated = sorted(q for q in all_qids if not verdicts.get(q, False))
    if _report_out is not None:
        _report_out["served_tier1"] = served
        _report_out["escalated"] = escalated
    tier1 = (ranked.filter(F.col("rn") <= k)
             .filter(F.col("query_id").isin(served))
             .select("query_id", id_col, F.col("lb").alias("score"),
                     F.col("rn").alias("rank")))
    if not escalated:
        return tier1
    full = bm25_topk(scores,
                     qterms.filter(F.col("query_id").isin(escalated)),
                     k, id_col)
    return tier1.unionByName(full) if served else full


def ltr_features(
    corpus: DataFrame,
    qterms: DataFrame,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    mu: float = 2000.0,
    quality: DataFrame | None = None,
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Learning-to-rank feature extraction: one relation of per-
    (query_id, doc_id) candidate features, the training-data side of a
    ranking pipeline (candidates = docs matching ≥1 in-vocabulary query
    term, exactly the retrieval candidate set):

    bm25 (Σ matched c-TF-IDF/BM25 term scores — identical formula to
    ``bm25_topk_adhoc``), ql (full Dirichlet query-likelihood score,
    same decomposition as ``lm_topk``), n_matched / n_q / match_ratio
    (query coverage), dl (doc length), sum_tf (matched term mass), and
    optionally a per-doc static ``quality`` prior joined in (any
    (doc_id, quality) relation, e.g. ``textstats.quality_score`` or a
    ``graph.pagerank`` authority score).

    Physical shape: ONE tokenize pass (persisted counts feed collection
    stats and the matched join), postings semi-joined to query terms
    before feature math, all per-term/per-query statistics broadcast,
    one groupBy (query, doc) shuffle; the optional quality join is the
    only non-broadcast join (keyed on doc id, candidates-side pruned).
    """
    from bertopic_spark.operators.ctfidf import term_stats

    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    stats = term_stats(x.withColumnRenamed("doc_len", "class_len"),
                       [id_col], bm25_weighting=True)
    cf = x.groupBy("term").agg(F.sum("tf").alias("cf"))
    tot = x.agg(F.sum("tf").alias("total"))
    terms_only = qterms.select("term").distinct()
    cfq = cf.join(F.broadcast(terms_only), "term").crossJoin(F.broadcast(tot))
    n_q = (qterms.join(F.broadcast(cfq.select("term")), "term")
           .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_q")))
    matched = (
        x.join(F.broadcast(qterms), "term")
        .join(F.broadcast(cfq), "term")
        .join(F.broadcast(stats.join(F.broadcast(terms_only), "term")
                          .select("term", "idf")), "term")
        .groupBy("query_id", id_col)
        .agg(
            F.sum(F.col("tf") / F.col("doc_len") * F.col("idf")).alias("bm25"),
            F.sum(F.log(F.lit(1.0) + F.col("tf") * F.col("total") /
                        (F.lit(mu) * F.col("cf")))).alias("ql_sum"),
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.sum("tf").cast("long").alias("sum_tf"),
            F.max("doc_len").cast("long").alias("dl"),
        )
    )
    out = matched.join(F.broadcast(n_q), "query_id").select(
        "query_id", id_col, "bm25",
        (F.col("ql_sum") + F.col("n_q") *
         F.log(F.lit(mu) / (F.col("dl") + F.lit(mu)))).alias("ql"),
        "n_matched", "n_q",
        (F.col("n_matched") / F.col("n_q")).alias("match_ratio"),
        "dl", "sum_tf",
    )
    if quality is not None:
        out = out.join(quality.select(id_col, "quality"), id_col, "left")
    return out


def more_like_this(
    corpus: DataFrame,
    seed_ids,
    n_terms: int = 5,
    k: int = 10,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    bm25_weighting: bool = True,
    reduce_frequent_words: bool = False,
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """More-like-this: (query_id = seed doc, doc_id, score, rank).

    Lucene MoreLikeThis shape: each seed document's top ``n_terms`` terms by
    its own per-doc score become its query; retrieval is then the standard
    inverted-index probe with the self-hit excluded. One counts pass feeds
    the corpus statistics, the seed-term extraction, AND the probe (hence
    ``persist_counts``); the seed slice is an ``isin`` filter (partition-
    prunable on a materialized index) and its top-n window runs over
    |seeds| × |seed vocab| rows, never the corpus. Ties in term selection
    break on term asc, in ranking on doc_id asc — rank-deterministic across
    partitionings and engines.
    """
    seeds = sorted(set(seed_ids))
    if not seeds:
        raise ValueError("need at least one seed doc id")
    if n_terms < 1 or k < 1:
        raise ValueError("n_terms and k must be >= 1")
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    x = x.withColumnRenamed("doc_len", "class_len")
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    stats = term_stats(x, [id_col], bm25_weighting=bm25_weighting)

    seed_scores = ctfidf(
        x.filter(F.col(id_col).isin(seeds)), [id_col],
        bm25_weighting=bm25_weighting,
        reduce_frequent_words=reduce_frequent_words, stats=stats)
    wq = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    qterms = (seed_scores.withColumn("tr", F.row_number().over(wq))
              .filter(F.col("tr") <= n_terms)
              .select(F.col(id_col).alias("query_id"), "term"))

    terms_only = qterms.select("term").distinct()
    xq = x.join(F.broadcast(terms_only), "term")
    scores = ctfidf(
        xq, [id_col], bm25_weighting=bm25_weighting,
        reduce_frequent_words=reduce_frequent_words,
        stats=stats.join(F.broadcast(terms_only), "term"))
    hits = (scores.join(F.broadcast(qterms), "term")
            .filter(F.col("query_id") != F.col(id_col))
            .groupBy("query_id", id_col)
            .agg(F.sum("score").alias("score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def linear_fuse(scored_legs, weights=None, k: int = 10,
                id_col: str = "doc_id") -> DataFrame:
    """Min-max-normalized weighted linear fusion — the score-calibrated
    hybrid alternative to rank-only ``rrf_fuse`` (the convex combination
    used by Vespa/Weaviate-style hybrid search): per (query, leg) each
    score is rescaled to [0, 1] by that query's own min/max on that leg,
    then fused as Σ w_i · norm_i with a doc missing from a leg
    contributing 0. A single-result leg (max == min) normalizes to 1.0.
    Returns (query_id, id, score, rank).

    Each leg is a (query_id, id, score) top-k relation; the per-leg
    min/max is one window over k rows per query, and the fuse is a
    union + groupBy of |legs|·k rows per query.
    """
    legs = list(scored_legs)
    if not legs:
        raise ValueError("need at least one scored leg")
    ws = [1.0 / len(legs)] * len(legs) if weights is None else [
        float(w) for w in weights]
    if len(ws) != len(legs):
        raise ValueError("weights must match the number of legs")
    if any(w < 0 for w in ws) or sum(ws) <= 0:
        raise ValueError("weights must be non-negative with positive sum")
    normed = []
    for leg, w in zip(legs, ws):
        wq = Window.partitionBy("query_id")
        mn, mx = F.min("score").over(wq), F.max("score").over(wq)
        n = F.when(mx > mn, (F.col("score") - mn) / (mx - mn)).otherwise(
            F.lit(1.0))
        normed.append(leg.select("query_id", F.col(id_col),
                                 (F.lit(w) * n).alias("c")))
    from functools import reduce as _reduce

    u = _reduce(lambda a, b: a.unionAll(b), normed)
    fused = (u.groupBy("query_id", id_col)
             .agg(F.sum("c").alias("score")))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (fused.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def rrf_fuse(rankings, k0: int = 60, k: int = 10,
             id_col: str = "doc_id") -> DataFrame:
    """Reciprocal-rank fusion across retrieval legs:
    (query_id, id, score, rank), score = Σ_legs 1 / (k0 + rank_leg).

    Hybrid lexical+dense retrieval without score calibration — RRF uses
    only ranks (Cormack et al., SIGIR 2009), so a BM25 leg and a cosine
    leg fuse directly. Each leg needs (query_id, id, rank) with rank 1-
    based. Physical shape: the legs are already top-k relations, so the
    union + groupBy shuffles |legs|·k rows per query — negligible next to
    retrieval itself.
    """
    from functools import reduce as _reduce

    legs = list(rankings)
    if not legs:
        raise ValueError("need at least one ranking leg")
    if k0 < 0 or k < 1:
        raise ValueError("k0 must be >= 0 and k >= 1")
    norm = [r.select("query_id", F.col(id_col),
                     (F.lit(1.0) / (F.lit(k0) + F.col("rank"))).alias("c"))
            for r in legs]
    hits = (_reduce(DataFrame.unionByName, norm)
            .groupBy("query_id", id_col).agg(F.sum("c").alias("score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def combsum_fuse(rankings, k: int = 10, id_col: str = "doc_id",
                 mnz: bool = False, dp: int = 9) -> DataFrame:
    """Score-based fusion (Fox & Shaw, TREC-2): per leg min-max-normalize
    scores WITHIN each query to [0, 1], then CombSUM (Σ normalized
    scores) or CombMNZ (``mnz=True``: CombSUM × number of legs that
    retrieved the doc — rewards agreement). The calibrated complement to
    ``rrf_fuse`` when leg scores are meaningful; each leg needs
    (query_id, id, score).

    Degenerate legs (one candidate, or all scores equal within a query)
    normalize to 1.0 by convention. Normalized scores are rounded to
    ``dp`` decimals before summing so the fused ordering is reproducible
    cross-engine (min-max division is association-free but the inputs may
    not be). Physical shape: per-leg per-query min/max is a tiny agg over
    top-k relations; everything downstream shuffles |legs|·k rows per
    query.
    """
    from functools import reduce as _reduce

    legs = list(rankings)
    if not legs:
        raise ValueError("need at least one ranking leg")
    norm = []
    for r in legs:
        mm = r.groupBy("query_id").agg(F.min("score").alias("_mn"),
                                       F.max("score").alias("_mx"))
        norm.append(
            r.join(F.broadcast(mm), "query_id")
            .select("query_id", F.col(id_col),
                    F.round(
                        F.when(F.col("_mx") == F.col("_mn"), F.lit(1.0))
                        .otherwise((F.col("score") - F.col("_mn")) /
                                   (F.col("_mx") - F.col("_mn"))), dp)
                    .alias("c")))
    hits = (_reduce(DataFrame.unionByName, norm)
            .groupBy("query_id", id_col)
            .agg(F.sum("c").alias("_s"),
                 F.count(F.lit(1)).cast("long").alias("n_legs")))
    score = (F.col("_s") * F.col("n_legs")) if mnz else F.col("_s")
    scored = hits.select("query_id", id_col, score.alias("score"), "n_legs")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "n_legs", "rank"))


def collapse_topk(hits: DataFrame, meta: DataFrame, collapse_col: str,
                  per_key: int = 1, k: int = 10,
                  id_col: str = "doc_id") -> DataFrame:
    """Field-collapsed top-k (Lucene/ES ``collapse``): at most ``per_key``
    results per (query, ``collapse_col``) group, then the global top ``k``
    per query — (query_id, id, collapse value, score, rank).

    ``hits`` is any scored relation (query_id, id, score); ``meta`` maps id
    to the collapse field. Physical shape: hits are already pruned to the
    query's matching docs, so the meta join shuffles |hits| rows, then two
    window passes over the SAME (query_id,…) partitioning — one exchange,
    both windows run in a single stage. Ties break (score desc, id asc),
    rank-deterministic across engines.
    """
    if per_key < 1 or k < 1:
        raise ValueError("per_key and k must be >= 1")
    j = hits.join(meta.select(id_col, collapse_col), id_col)
    wk = Window.partitionBy("query_id", collapse_col).orderBy(
        F.desc("score"), F.asc(id_col))
    wq = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (j.withColumn("kr", F.row_number().over(wk))
            .filter(F.col("kr") <= per_key)
            .withColumn("rank", F.row_number().over(wq))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, collapse_col, "score", "rank"))


def bm25f_topk(corpus: DataFrame, qterms: DataFrame,
               fields: Mapping[str, float], k: int = 10,
               k1: float = 1.2, b: float = 0.75,
               id_col: str = "doc_id", mode: str = "ascii_code",
               persist_counts: bool = True,
               _persisted_out: list | None = None) -> DataFrame:
    """BM25F multi-field retrieval (Robertson & Zaragoza 2009, simple
    weighted-field variant): (query_id, id, score, rank).

    Per doc and term, tf is the field-weight-blended count
    wtf = Σ_f w_f·tf_f; doc length is the blended wdl = Σ_f w_f·len_f;
    score(q,d) = Σ_{t∈q} idf(t) · wtf·(k1+1) / (wtf + k1·(1−b+b·wdl/avgwdl))
    with idf = ln(1 + (N−df+0.5)/(df+0.5)), df = docs containing t in ANY
    field. Physical shape: each field tokenizes once into a union of
    (id, term, w) branches (one corpus scan per field — unavoidable: the
    fields are distinct columns); blended doc lengths come from ONE extra
    scan of token-array sizes (no shuffle); postings are semi-joined to the
    query's terms BEFORE the idf/length joins, exactly like
    ``bm25_topk_adhoc``. df/avg statistics see every posting (irreducible).
    """
    from functools import reduce as _reduce

    from bertopic_spark.tokenizer import with_tokens

    flds = sorted((str(c), float(w)) for c, w in fields.items())
    if not flds:
        raise ValueError("need at least one field")
    if k < 1 or k1 < 0 or not (0.0 <= b <= 1.0):
        raise ValueError("bad k/k1/b")

    branches = [
        with_tokens(corpus.select(id_col, c), c, mode)
        .select(F.col(id_col), F.explode("tokens").alias("term"),
                F.lit(w).alias("w"))
        for c, w in flds]
    wtf = (_reduce(DataFrame.unionByName, branches)
           .groupBy(id_col, "term").agg(F.sum("w").alias("wtf")))
    if persist_counts:
        wtf = wtf.persist()
        if _persisted_out is not None:
            _persisted_out.append(wtf)

    # blended doc length is DERIVED from the counts relation (Σ_terms wtf
    # per doc = Σ_f w_f·len_f) — no second tokenize pass; docs empty in
    # every field have wdl 0 and enter the average via the n_docs divisor
    wdl = wtf.groupBy(id_col).agg(F.sum("wtf").alias("wdl"))
    n_docs = corpus.count()
    stats = wdl.agg((F.sum("wdl") / F.lit(float(n_docs))).alias("avgwdl"))
    dft = wtf.groupBy("term").agg(F.count("*").alias("df"))
    idf = dft.select(
        "term",
        F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
              / (F.col("df") + F.lit(0.5))).alias("idf"))

    terms_only = qterms.select("term").distinct()
    xq = wtf.join(F.broadcast(terms_only), "term")
    scored = (xq.join(F.broadcast(idf.join(F.broadcast(terms_only), "term")),
                      "term")
              .join(wdl, id_col)
              .crossJoin(F.broadcast(stats))
              .select("term", id_col,
                      (F.col("idf") * F.col("wtf") * F.lit(k1 + 1.0)
                       / (F.col("wtf") + F.lit(k1)
                          * (F.lit(1.0 - b)
                             + F.lit(b) * F.col("wdl") / F.col("avgwdl")))
                       ).alias("score")))
    return bm25_topk(scored, qterms, k, id_col)


def prf_expand_topk(corpus: DataFrame, qdf: DataFrame,
                    r: int = 3, m: int = 3,
                    alpha: float = 1.0, beta: float = 0.5, k: int = 10,
                    text_col: str = "content", id_col: str = "doc_id",
                    mode: str = "ascii_code", bm25_weighting: bool = True,
                    persist_counts: bool = True,
                    _persisted_out: list | None = None) -> DataFrame:
    """Rocchio pseudo-relevance feedback: (query_id, id, score, rank).

    Round 1 retrieves the top ``r`` docs per query with plain BM25; the top
    ``m`` expansion terms per query are those with the largest summed
    per-doc score across the feedback docs (original query terms excluded,
    ties on term asc). Round 2 rescores with term weights — α on original
    terms, β on expansions — score(q,d) = Σ_t w_t·score(d,t), top-k by
    (score desc, id asc).

    Physical shape: ONE scored index feeds both rounds (persisted); the
    feedback join touches |r·queries| docs' postings via a broadcast of the
    round-1 ids; expansion selection windows over |queries|·|feedback
    vocab| rows, never the corpus. Both probe joins broadcast the (tiny)
    weighted query relation — no cross join anywhere.
    """
    if r < 1 or m < 1 or k < 1:
        raise ValueError("r, m and k must be >= 1")
    held: list = []
    scores = doc_scores(corpus, text_col, id_col, mode,
                        bm25_weighting=bm25_weighting,
                        persist_counts=persist_counts, _persisted_out=held)
    scores = scores.persist()
    held.append(scores)
    if _persisted_out is not None:
        _persisted_out.extend(held)

    qterms = query_terms(qdf, mode)
    base = bm25_topk(scores, qterms, k=r, id_col=id_col)

    fb = (scores.join(F.broadcast(base.select("query_id", id_col)), id_col)
          .join(qterms.withColumn("orig", F.lit(1)),
                ["query_id", "term"], "left")
          .filter(F.col("orig").isNull())
          .groupBy("query_id", "term")
          .agg(F.sum("score").alias("wgt")))
    we = Window.partitionBy("query_id").orderBy(F.desc("wgt"), F.asc("term"))
    expansion = (fb.withColumn("er", F.row_number().over(we))
                 .filter(F.col("er") <= m)
                 .select("query_id", "term", F.lit(float(beta)).alias("qw")))
    weighted = qterms.select(
        "query_id", "term", F.lit(float(alpha)).alias("qw")
    ).unionByName(expansion)

    hits = (scores.join(F.broadcast(weighted), "term")
            .groupBy("query_id", id_col)
            .agg(F.sum(F.col("qw") * F.col("score")).alias("score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    out = (hits.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k)
           .select("query_id", id_col, "score", "rank"))
    if _persisted_out is None and persist_counts:
        # round-1 top-r must materialize before scores can be released;
        # callers needing lazy output pass _persisted_out and manage it.
        out = out.localCheckpoint(eager=True)
        for d in held:
            d.unpersist()
    return out


def passage_topk(corpus: DataFrame, qterms: DataFrame,
                 window: int = 64, stride: int = 32, k: int = 10,
                 k1: float = 1.2, b: float = 0.75, per_doc: bool = True,
                 text_col: str = "content", id_col: str = "doc_id",
                 mode: str = "ascii_code", persist_counts: bool = True,
                 _persisted_out: list | None = None) -> DataFrame:
    """Passage retrieval with MaxP doc ranking (Dai & Callan 2019 shape):
    (query_id, id, start_pos, plen, score, rank).

    Docs split into windows of ``window`` tokens every ``stride`` (trailing
    windows shorter, plen = min(window, len−start)); each window is scored
    with BM25 against the query (doc-level Robertson idf, passage-length
    normalization against the corpus-wide average passage length); with
    ``per_doc`` each doc is represented by its best passage (MaxP) before
    the per-query top-k, else passages rank directly.

    Physical shape — passages are NEVER materialized, and the corpus
    tokenizes exactly twice: one persisted ``doc_term_counts`` pass feeds
    doc lengths, window counts, the passage-length average AND the
    document-frequency/idf table; one positional pass feeds the postings,
    which are pruned to the query's terms BEFORE each surviving posting
    expands into its ≤ window/stride covering window starts (one
    ``F.sequence`` explode). At 100 TB the expansion factor applies only
    to |postings of query terms|, not the corpus.
    """
    from bertopic_spark.tokenizer import with_tokens

    if window < 1 or stride < 1 or stride > window:
        raise ValueError("need 1 <= stride <= window")
    if k < 1:
        raise ValueError("k must be >= 1")
    w, s = int(window), int(stride)

    n_docs = corpus.count()
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)

    # doc lengths / window counts / passage-length average — all derived
    # from the counts pass (docs with zero tokens have no windows and
    # contribute nothing, exactly as an explicit per-doc scan would)
    lens = x.groupBy(id_col).agg(F.max("doc_len").alias("dl"))
    nw = F.floor((F.col("dl") - 1) / s) + 1
    splen = F.aggregate(
        F.sequence(F.lit(0), (nw.cast("int") - 1) * s, F.lit(s)),
        F.lit(0).cast("long"),
        lambda acc, st: acc + F.least(F.lit(w), F.col("dl") - st))
    stats = (lens.select(nw.alias("nw"), splen.alias("splen"))
             .agg((F.sum("splen") / F.sum("nw")).alias("avgpl")))

    # doc-level df over the full vocabulary → Robertson idf (query terms only)
    terms_only = qterms.select("term").distinct()
    dft = x.groupBy("term").agg(F.count("*").alias("df"))
    idf = (dft.join(F.broadcast(terms_only), "term")
           .select("term",
                   F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df")
                                       + F.lit(0.5))
                         / (F.col("df") + F.lit(0.5))).alias("idf")))

    # positional pass: postings pruned to query terms, then expanded to
    # covering windows
    toks = with_tokens(corpus.select(id_col, text_col), text_col, mode)
    post = (toks.select(F.col(id_col),
                        F.posexplode("tokens").alias("pos", "term"))
            .join(F.broadcast(terms_only), "term"))
    smin = F.greatest(F.lit(0), F.floor((F.col("pos") - w + s) / s) * s)
    smax = F.floor(F.col("pos") / s) * s
    ptf = (post.select(id_col, "term",
                       F.explode(F.sequence(smin.cast("int"),
                                            smax.cast("int"),
                                            F.lit(s))).alias("start_pos"))
           .groupBy(id_col, "start_pos", "term")
           .agg(F.count("*").cast("double").alias("tf")))

    scored = (ptf.join(F.broadcast(idf), "term")
              .join(lens, id_col)
              .crossJoin(F.broadcast(stats))
              .withColumn("plen", F.least(F.lit(w),
                                          F.col("dl") - F.col("start_pos")))
              .select("term", id_col, "start_pos", "plen",
                      (F.col("idf") * F.col("tf") * F.lit(k1 + 1.0)
                       / (F.col("tf") + F.lit(k1)
                          * (F.lit(1.0 - b)
                             + F.lit(b) * F.col("plen") / F.col("avgpl")))
                       ).alias("sc")))
    hits = (scored.join(F.broadcast(qterms), "term")
            .groupBy("query_id", id_col, "start_pos", "plen")
            .agg(F.sum("sc").alias("score")))
    if per_doc:
        wd = Window.partitionBy("query_id", id_col).orderBy(
            F.desc("score"), F.asc("start_pos"))
        hits = (hits.withColumn("pr", F.row_number().over(wd))
                .filter(F.col("pr") == 1).drop("pr"))
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col), F.asc("start_pos"))
    return (hits.withColumn("rank", F.row_number().over(wq))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col,
                    F.col("start_pos").cast("long").alias("start_pos"),
                    F.col("plen").cast("long").alias("plen"),
                    "score", "rank"))


def bm25_topk_stratified(corpus: DataFrame, qterms: DataFrame,
                         strat_col: str, k: int = 10,
                         k1: float = 1.2, b: float = 0.75,
                         text_col: str = "content", id_col: str = "doc_id",
                         mode: str = "ascii_code") -> DataFrame:
    """Per-stratum BM25 (e.g. one ranking per language):
    (query_id, stratum, id, score, rank), top-k within each stratum.

    All corpus statistics are PARTITION-LOCAL to the stratum: N, df and
    avgdl are computed per ``strat_col`` value, so rankings are invariant
    to what other strata contain — the semantics of running one index per
    language without running one job per language. Physical shape: every
    aggregation is keyed by (stratum, …) — one pass, no per-stratum loop,
    no cross-stratum shuffle coupling; per-stratum stats for the query's
    terms broadcast onto the pruned postings. Robertson idf/saturation as
    in ``bm25f_topk``.
    """
    from bertopic_spark.tokenizer import with_tokens

    if k < 1 or k1 < 0 or not (0.0 <= b <= 1.0):
        raise ValueError("bad k/k1/b")
    toks = with_tokens(corpus.select(id_col, strat_col, text_col),
                       text_col, mode)
    dl = toks.select(
        F.col(id_col), F.col(strat_col),
        F.size(F.coalesce(F.col("tokens"),
                          F.array().cast("array<string>"))).alias("dl"))
    sstats = dl.groupBy(strat_col).agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
    x = (toks.select(F.col(id_col), F.col(strat_col),
                     F.explode("tokens").alias("term"))
         .groupBy(strat_col, id_col, "term")
         .agg(F.count("*").cast("double").alias("tf")))
    dft = (x.groupBy(strat_col, "term").agg(F.count("*").alias("df")))
    terms_only = qterms.select("term").distinct()
    idf = (dft.join(F.broadcast(terms_only), "term")
           .join(sstats.select(strat_col, "n"), strat_col)
           .select(strat_col, "term",
                   F.log(F.lit(1.0) + (F.col("n").cast("double")
                                       - F.col("df") + F.lit(0.5))
                         / (F.col("df") + F.lit(0.5))).alias("idf")))
    xq = x.join(F.broadcast(terms_only), "term")
    scored = (xq.join(F.broadcast(idf), [strat_col, "term"])
              .join(dl.select(id_col, "dl"), id_col)
              .join(F.broadcast(sstats.select(strat_col, "avgdl")), strat_col)
              .select("term", strat_col, id_col,
                      (F.col("idf") * F.col("tf") * F.lit(k1 + 1.0)
                       / (F.col("tf") + F.lit(k1)
                          * (F.lit(1.0 - b)
                             + F.lit(b) * F.col("dl") / F.col("avgdl")))
                       ).alias("sc")))
    hits = (scored.join(F.broadcast(qterms), "term")
            .groupBy("query_id", strat_col, id_col)
            .agg(F.sum("sc").alias("score")))
    w = Window.partitionBy("query_id", strat_col).orderBy(
        F.desc("score"), F.asc(id_col))
    return (hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", strat_col, id_col, "score", "rank"))


def prune_index(scores: DataFrame, id_col: str = "doc_id",
                keep_frac: float = 0.2, min_keep: int = 10) -> DataFrame:
    """Static index pruning (Carmel et al. 2001, uniform top-k pruning):
    per term keep only the strongest ``max(min_keep, ceil(keep_frac·df_t))``
    postings by (score desc, id asc). Same schema as ``scores`` in, so every
    serving path (exhaustive, WAND blocks) runs unchanged on the pruned
    relation.

    Guarantee: single-term queries with k ≤ ``min_keep`` are EXACTLY
    rank-identical to the full index (the term's top-min_keep postings all
    survive); multi-term quality degrades gracefully while the index
    shrinks toward keep_frac of its size. One window pass — the same
    shuffle shape as the c-TF-IDF top-n (partitionBy term), no second scan;
    at 100 TB this is an offline compaction producing a smaller segment
    set, not a query-time cost.
    """
    w = Window.partitionBy("term").orderBy(F.desc("score"), F.asc(id_col))
    wc = Window.partitionBy("term")
    keep = F.greatest(
        F.lit(int(min_keep)),
        F.ceil(F.lit(float(keep_frac)) * F.count(F.lit(1)).over(wc)))
    return (scores.withColumn("_rn", F.row_number().over(w))
            .withColumn("_keep", keep)
            .filter(F.col("_rn") <= F.col("_keep"))
            .drop("_rn", "_keep"))


def decay_topk(
    scores: DataFrame,
    qterms: DataFrame,
    doc_times: DataFrame,
    now: str,
    scale_days: int = 30,
    k: int = 10,
    id_col: str = "doc_id",
    ts_col: str = "mtime",
) -> DataFrame:
    """ES function_score gauss decay on document age: relevance × recency.
    multiplier = 0.5 ^ ((age_days / scale_days)^2) — 1.0 at age 0, exactly
    0.5 at ``scale_days`` (ES ``decay=0.5`` convention), gaussian tail
    beyond. Returns (query_id, doc_id, score, decayed, rank) ranked by the
    decayed score.

    Plan: relevance hits first (inverted-index probe + one groupBy — the
    bm25_topk shape), THEN the time join: the hits relation is
    |matching docs| × |queries|, far smaller than the corpus, so the doc
    metadata joins after aggregation, not before. Decay must multiply
    BEFORE the top-k cut — a stale #1 can lose to a fresh #12 — so the
    window runs on decayed scores; everything stays JVM-side arithmetic.
    """
    qd = qterms.select("query_id", "term").distinct()
    hits = (
        scores.join(F.broadcast(qd), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum("score").alias("score"))
        .join(doc_times.select(id_col, ts_col), id_col)
    )
    age = F.datediff(F.lit(now).cast("date"), F.col(ts_col).cast("date"))
    mult = F.pow(F.lit(0.5), F.pow(age / F.lit(float(scale_days)), 2))
    hits = hits.withColumn("decayed", F.col("score") * mult)
    w = Window.partitionBy("query_id").orderBy(F.desc("decayed"),
                                               F.asc(id_col))
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "decayed", "rank")
    )


def common_terms_topk(
    scores: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    max_df: float = 0.05,
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """Lucene CommonTermsQuery: candidates are generated ONLY from the
    query's rare terms (df ≤ ``max_df``, a fraction of the corpus when
    < 1, absolute when ≥ 1); common (stop-ish) terms still contribute
    score but never admit new documents. Returns
    (query_id, doc_id, score, rank) — the score sums ALL matched query
    terms for admitted docs, so ranking matches the full disjunction on
    the candidate set.

    The 100-TB point: a disjunction containing ``the``/``license``/
    ``import`` must not aggregate those terms' postings corpus-wide. Here
    the candidate set is bounded by the rare terms' summed df — small by
    construction — so it BROADCASTS onto the common-term postings and
    prunes them map-side, before the scoring shuffle ever sees them. A
    query with no rare terms degrades to the plain disjunction (Lucene's
    own fallback: every clause becomes candidate-generating).

    ``n_docs``: corpus document count, used only to resolve a fractional
    ``max_df`` cutoff. Pass it when the caller already knows N (parquet
    metadata count, index manifest) — otherwise the operator pays one
    exact count_distinct shuffle over the postings to derive it (the
    single widest job in this plan; measured ~2s of the gate's cost at
    sf0.1).
    """
    # df is needed ONLY for the query's own terms: push the term semi-join
    # BELOW the df aggregation so the agg sees |query-term postings| rows,
    # not the whole vocabulary, and the later left join is broadcast-able
    # (a vocabulary-sized dfr forces a SortMergeJoin — observed in the plan
    # before this rewrite).
    qset = qterms.select("term").distinct()
    dfq = (scores.join(F.broadcast(qset), "term")
           .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    qd = qterms.select("query_id", "term").distinct() \
        .join(F.broadcast(dfq), "term", "left")
    if 0 < max_df < 1:
        if n_docs is not None:
            cutoff = F.lit(int(-(-max_df * n_docs // 1))).cast("long")
        else:
            nd = scores.agg(F.count_distinct(id_col).alias("n_docs"))
            qd = qd.crossJoin(F.broadcast(nd))
            cutoff = F.ceil(F.lit(float(max_df)) * F.col("n_docs")) \
                .cast("long")
    else:
        cutoff = F.lit(int(max_df)).cast("long")
    qd = qd.withColumn(
        "is_rare", F.coalesce(F.col("df"), F.lit(0)) <= cutoff)
    has_rare = (qd.groupBy("query_id")
                .agg(F.max(F.col("is_rare").cast("int")).alias("hr")))
    qd = (qd.join(F.broadcast(has_rare), "query_id")
          .withColumn("gen", F.col("is_rare") | (F.col("hr") == 0))
          .select("query_id", "term", "gen"))
    gen_hits = (scores.join(F.broadcast(qd.filter("gen")), "term")
                .select("query_id", id_col, "score"))
    cand = gen_hits.select("query_id", id_col).distinct()
    common_hits = (
        scores.join(F.broadcast(qd.filter(~F.col("gen"))), "term")
        .join(F.broadcast(cand), ["query_id", id_col])
        .select("query_id", id_col, "score"))
    hits = (gen_hits.unionByName(common_hits)
            .groupBy("query_id", id_col).agg(F.sum("score").alias("score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def rescore_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    mu: float = 2000.0,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Elasticsearch-style rescore window: a cheap first-pass Okapi BM25
    disjunction ranks everything, then ONLY the top ``window_size`` docs
    per query are rescored with a more expensive model (Dirichlet query
    likelihood, the same math as ``lm_topk``) and re-ranked by

        final = query_weight·bm25 + rescore_weight·lm

    Returns (query_id, doc_id, score, rank), rank over the blended score
    within the window (docs outside the window can never re-enter —
    Elasticsearch semantics).

    The 100-TB shape: the second-pass scorer touches |queries|·window_size
    (doc, query) pairs — a BROADCAST onto the postings probe — so its cost
    is independent of corpus size; only the corpus-wide collection stats
    (cf, |C|: one partial-agg pass, shared with the first pass's counts
    relation) scale with the data. One tokenize pass feeds both rounds.
    """
    if window_size < k:
        raise ValueError("window_size must be >= k")
    if mu <= 0 or k1 < 0 or not 0.0 <= b <= 1.0:
        raise ValueError("bad mu/k1/b")
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    row = (x.groupBy(id_col).agg(F.max("doc_len").alias("dl"))
           .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
           .collect()[0])
    n_docs, avgdl = int(row["n"]), row["avgdl"]
    if n_docs == 0:
        return _empty_topk(corpus.sparkSession, id_col)

    # first pass: classical Okapi disjunction, window_size kept per query
    terms_only = qterms.select("term").distinct()
    dfs = (x.join(F.broadcast(terms_only), "term")
           .groupBy("term").agg(F.countDistinct(id_col).alias("df")))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) /
                (F.col("df") + 0.5))
    denom = (F.col("tf") + F.lit(k1) *
             (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avgdl)))
    hits1 = (
        x.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfs.select("term", idf.alias("idf"))), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(F.col("idf") * F.col("tf") * F.lit(k1 + 1.0) / denom)
             .alias("bm25")))
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc(id_col))
    # wnd feeds BOTH the LM probe's doc filter and the final blend; persist
    # the (|queries|·window)-row relation so the first-pass scoring shuffle
    # runs once, not once per consumer
    wnd = (hits1.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") <= window_size)
           .select("query_id", id_col, "bm25")).persist()
    if _persisted_out is not None:
        _persisted_out.append(wnd)

    # second pass: Dirichlet LM, postings pruned to the window's docs
    cf = x.groupBy("term").agg(F.sum("tf").alias("cf"))
    tot = x.agg(F.sum("tf").alias("total"))
    cfq = cf.join(F.broadcast(terms_only), "term").crossJoin(F.broadcast(tot))
    n_q = (qterms.join(F.broadcast(cfq.select("term")), "term")
           .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_q")))
    lm = (
        x.join(F.broadcast(qterms), "term")
        .join(F.broadcast(wnd.select("query_id", id_col)),
              ["query_id", id_col])
        .join(F.broadcast(cfq), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(F.log(F.lit(1.0) + F.col("tf") * F.col("total") /
                         (F.lit(mu) * F.col("cf")))).alias("ql"),
             F.max("doc_len").alias("dl"))
        .join(F.broadcast(n_q), "query_id")
        .select("query_id", id_col,
                (F.col("ql") + F.col("n_q") *
                 F.log(F.lit(mu) / (F.col("dl") + F.lit(mu)))).alias("lm")))

    blended = (wnd.join(lm, ["query_id", id_col])
               .select("query_id", id_col,
                       (F.lit(float(query_weight)) * F.col("bm25") +
                        F.lit(float(rescore_weight)) * F.col("lm"))
                       .alias("score")))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                F.asc(id_col))
    return (blended.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def dismax_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    fields: "Sequence[str] | Mapping[str, float]",
    tie_breaker: float = 0.3,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Lucene DisjunctionMaxQuery over per-field Okapi BM25 scores
    (Elasticsearch ``dis_max`` / ``multi_match best_fields``):

        score(q,d) = max_f s_f(q,d) + tie_breaker · Σ_{f≠argmax} s_f(q,d)

    Each field is scored with ITS OWN statistics (df, dl, avgdl over docs
    non-empty in that field — Lucene's per-field docCount), unlike BM25F
    which blends tf/length before a single saturation. ``fields`` maps
    field → query-time boost (a plain sequence means boost 1.0).

    Plan: one tokenize pass per field (irreducible — distinct columns),
    each semi-joined to the query's terms before its idf/length joins,
    one union of the per-field (query, doc, score) hit relations, one
    groupBy(query, doc) computing max+sum in the same agg — the dis_max
    combination never materializes a per-field dense matrix.
    """
    if isinstance(fields, Mapping):
        flds = sorted((str(c), float(wt)) for c, wt in fields.items())
    else:
        flds = sorted((str(c), 1.0) for c in fields)
    if not flds:
        raise ValueError("need at least one field")
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError("tie_breaker must be in [0, 1]")
    if k1 < 0 or not 0.0 <= b <= 1.0:
        raise ValueError("bad k1/b")

    terms_only = qterms.select("term").distinct()
    branches = []
    for fcol, boost in flds:
        x = doc_term_counts(corpus, fcol, [id_col], mode, with_len=True)
        if persist_counts:
            x = x.persist()
            if _persisted_out is not None:
                _persisted_out.append(x)
        row = (x.groupBy(id_col).agg(F.max("doc_len").alias("dl"))
               .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
               .collect()[0])
        n_docs, avgdl = int(row["n"]), row["avgdl"]
        if n_docs == 0:
            continue
        dfs = (x.join(F.broadcast(terms_only), "term")
               .groupBy("term").agg(F.countDistinct(id_col).alias("df")))
        idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                    / (F.col("df") + 0.5))
        denom = (F.col("tf") + F.lit(k1) *
                 (F.lit(1.0 - b) +
                  F.lit(b) * F.col("doc_len") / F.lit(avgdl)))
        branches.append(
            x.join(F.broadcast(qterms), "term")
            .join(F.broadcast(dfs.select("term", idf.alias("idf"))), "term")
            .groupBy("query_id", id_col)
            .agg((F.lit(boost) *
                  F.sum(F.col("idf") * F.col("tf") * F.lit(k1 + 1.0) / denom)
                  ).alias("s")))
    if not branches:
        return _empty_topk(corpus.sparkSession, id_col)
    from functools import reduce as _reduce

    u = _reduce(DataFrame.unionByName, branches)
    hits = (u.groupBy("query_id", id_col)
            .agg((F.max("s") + F.lit(float(tie_breaker)) *
                  (F.sum("s") - F.max("s"))).alias("score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def boosting_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    negative_terms: "Sequence[str]",
    negative_boost: float = 0.2,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
    persist_counts: bool = True,
    _persisted_out: list | None = None,
) -> DataFrame:
    """Lucene BoostingQuery (Elasticsearch ``boosting`` query): documents
    matching the positive disjunction keep their Okapi BM25 score, but any
    doc containing one of ``negative_terms`` has it DEMOTED by
    ``negative_boost`` (multiplied, not filtered — the doc can still rank
    if its positive score dominates). Returns (query_id, doc_id, score,
    demoted, rank).

    Plan: the positive pass is the standard pruned inverted-index probe;
    the negative match is a distinct-doc projection of the SAME persisted
    counts relation filtered to the (few) negative terms, LEFT-joined onto
    the candidate hits — candidates are bounded by the query's postings,
    so the join never sees the corpus. Negative terms should be selective;
    a stop-word negative degrades to |corpus| rows on the build side and
    belongs in ``common_terms_topk``'s territory instead.
    """
    neg = sorted({str(t) for t in negative_terms})
    if not neg:
        raise ValueError("need at least one negative term")
    if not 0.0 <= negative_boost <= 1.0:
        raise ValueError("negative_boost must be in [0, 1]")
    if k1 < 0 or not 0.0 <= b <= 1.0:
        raise ValueError("bad k1/b")
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    if persist_counts:
        x = x.persist()
        if _persisted_out is not None:
            _persisted_out.append(x)
    row = (x.groupBy(id_col).agg(F.max("doc_len").alias("dl"))
           .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
           .collect()[0])
    n_docs, avgdl = int(row["n"]), row["avgdl"]
    if n_docs == 0:
        return _empty_topk(corpus.sparkSession, id_col)
    terms_only = qterms.select("term").distinct()
    dfs = (x.join(F.broadcast(terms_only), "term")
           .groupBy("term").agg(F.countDistinct(id_col).alias("df")))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) /
                (F.col("df") + 0.5))
    denom = (F.col("tf") + F.lit(k1) *
             (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avgdl)))
    hits = (
        x.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfs.select("term", idf.alias("idf"))), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(F.col("idf") * F.col("tf") * F.lit(k1 + 1.0) / denom)
             .alias("pos")))
    negdocs = (x.filter(F.col("term").isin(neg))
               .select(id_col).distinct()
               .withColumn("_neg", F.lit(1)))
    demoted = (hits.join(negdocs, id_col, "left")
               .select("query_id", id_col,
                       F.when(F.col("_neg").isNotNull(),
                              F.col("pos") * F.lit(float(negative_boost)))
                       .otherwise(F.col("pos")).alias("score"),
                       F.col("_neg").isNotNull().alias("demoted")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (demoted.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "demoted", "rank"))


def maxscore_topk(
    scores: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    persist_probe: bool = True,
    _persisted_out: list | None = None,
    stats_out: list | None = None,
) -> DataFrame:
    """MaxScore dynamic pruning (Turtle & Flood 1995) — the term-granular
    sibling of the block-max pruning in index/segments.py's
    ``query_topk``, over ANY scored index relation (doc_id, term, score):
    rank-identical (query_id, doc_id, score, rank) to
    ``bm25_topk(scores, qterms, k)``.

    Batch adaptation of the classic cursor walk:
      1. θ seed — the best-impact term's own top-k postings are scored
         FULLY (all query terms); θ = kth best full score (a lower bound
         on the true kth-best, so pruning with it is safe; NULL when
         fewer than k docs seen → no pruning).
      2. term split — terms sorted by max-impact ascending; the maximal
         prefix whose cumulative Σ max(score,0)⁺ stays < θ is
         NON-ESSENTIAL: a doc containing only those terms scores < θ and
         can never enter the top-k. Positive-part bounds keep the split
         safe for scoring models with negative weights (the degenerate
         c-TF-IDF index); for Okapi scores they are the plain maxima.
      3. candidates — docs holding ≥1 essential term; full-score ONLY
         those (one (query, doc) shuffle over the candidate postings).

    The 100-TB win mirrors Lucene's: broad disjunctions dominated by
    low-impact (stop-ish) terms stop generating candidates from those
    terms' corpus-sized postings; the scoring shuffle shrinks to the
    essential postings plus candidate rows. All split bookkeeping is
    |query|·|terms|-sized and broadcast.

    The probe relation feeds four consumers (impact maxima, θ seed,
    candidate generation, full scoring) — persisted by default; serving
    loops should reap handles via ``_persisted_out`` (same contract as
    ``bm25_topk_adhoc``).

    ``stats_out``: pass a list to receive a LAZY per-query pruning-stats
    relation (query_id, n_postings, n_scored, n_skipped, skip_rate,
    n_terms, n_essential) measuring how much posting volume the
    essential-term split actually skipped.
    """
    qd = qterms.select("query_id", "term").distinct()
    sq = scores.join(F.broadcast(qd), "term")
    if persist_probe:
        sq = sq.persist()
        if _persisted_out is not None:
            _persisted_out.append(sq)

    qmax = (sq.groupBy("query_id", "term")
            .agg(F.max("score").alias("qmax")))
    w_best = Window.partitionBy("query_id").orderBy(F.desc("qmax"),
                                                    F.asc("term"))
    best = (qmax.withColumn("_rn", F.row_number().over(w_best))
            .filter(F.col("_rn") == 1).select("query_id", "term"))
    w_seed = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                    F.asc(id_col))
    seed_docs = (sq.join(F.broadcast(best), ["query_id", "term"])
                 .withColumn("_rn", F.row_number().over(w_seed))
                 .filter(F.col("_rn") <= k)
                 .select("query_id", id_col))
    seed_full = (sq.join(F.broadcast(seed_docs), ["query_id", id_col])
                 .groupBy("query_id", id_col)
                 .agg(F.sum("score").alias("score")))
    theta = (seed_full.withColumn("_rn", F.row_number().over(w_seed))
             .filter(F.col("_rn") == k)
             .select("query_id", F.col("score").alias("theta")))

    w_cum = Window.partitionBy("query_id").orderBy(
        F.asc("qmax"), F.asc("term")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    ess = (qmax
           .withColumn("_cum", F.sum(F.greatest(F.col("qmax"), F.lit(0.0)))
                       .over(w_cum))
           .join(F.broadcast(theta), "query_id", "left")
           .filter(F.col("theta").isNull() |
                   (F.col("_cum") >= F.col("theta")))
           .select("query_id", "term"))
    cands = (sq.join(F.broadcast(ess), ["query_id", "term"])
             .select("query_id", id_col).distinct())
    scored = sq.join(cands, ["query_id", id_col], "left_semi")
    if stats_out is not None:
        # per-query pruning counters — "pruning actually prunes" is
        # measured, not assumed: postings the probe touched vs postings
        # the scorer actually summed, plus the essential-term split.
        tp = sq.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_postings"))
        sp = scored.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_scored"))
        nt = qmax.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_terms"))
        ne = ess.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_essential"))
        nsc = F.coalesce("n_scored", F.lit(0))
        stats_out.append(
            tp.join(sp, "query_id", "left").join(nt, "query_id")
            .join(ne, "query_id", "left")
            .select("query_id", "n_postings", nsc.alias("n_scored"),
                    (F.col("n_postings") - nsc).alias("n_skipped"),
                    F.round((F.col("n_postings") - nsc) /
                            F.col("n_postings"), 6).alias("skip_rate"),
                    "n_terms",
                    F.coalesce("n_essential", F.lit(0))
                    .alias("n_essential")))
    hits = (scored.groupBy("query_id", id_col)
            .agg(F.sum("score").alias("score")))
    return (hits.withColumn("rank", F.row_number().over(w_seed))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def rank_eval(
    hits: DataFrame,
    judgments: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    max_grade: float = 4.0,
) -> DataFrame:
    """ES ``_rank_eval`` analog: per-query ranking-quality metrics of a
    ranked result list against a graded relevance-judgment relation —
    precision@k, recall@k, MRR@k, DCG@k and NDCG@k in one pass. The
    offline-evaluation surface every retrieval change is judged by.

    ``hits``: (query_id, id_col, rank) from any retriever (``bm25_topk``,
    WAND, a fusion). ``judgments``: (query_id, id_col, grade); grade > 0
    means relevant, retrieved-but-unjudged docs count as grade 0 (ES
    semantics). Definitions (ES RankEvalSpec / standard IR):

      precision@k = relevant-retrieved / retrieved (within the window)
      recall@k    = relevant-retrieved / total judged relevant
      MRR@k       = 1 / rank of the first relevant hit (0 when none)
      DCG@k       = sum (2^grade - 1) / log2(rank + 1) over the window
      NDCG@k      = DCG@k / IDCG@k; IDCG from the judgment grades sorted
                    descending (the ideal ordering), 0-guarded

    Physical shape: the hit window is k x |queries| rows -> broadcast onto
    the judgment relation; every aggregation is per-query (|queries|
    groups), so the evaluation is one small shuffle regardless of corpus
    size. The per-query IDCG window runs over judgments only (eval-set
    sized, not corpus sized). The API is fully lazy: grade validation
    (grade <= max_grade) rides inside the plan via ``assert_true`` and
    raises when the evaluation executes, not at construction.
    """
    if max_grade <= 0:
        raise ValueError("max_grade must be > 0")
    # A grade above max_grade makes R = (2^g-1)/2^max_grade exceed 1, so
    # ln(1-R) is NULL and the ERR cascade silently zeroes out. The guard
    # is folded INTO the plan (assert_true on every judgment scan) rather
    # than run as a separate eager job: rank_eval stays lazy and costs no
    # extra Spark action in serving loops (VERDICT r4 #3). A bad grade
    # raises a SparkRuntimeException naming max_grade when the evaluation
    # executes — ES rank_eval exposes the same knob as maximum_relevance.
    # A NULL grade passes the guard (it is never relevant: every grade
    # comparison below is NULL, hence false).
    _chk = F.assert_true(
        F.col("grade").isNull() | (F.col("grade") <= F.lit(float(max_grade))),
        F.concat(F.lit(f"judgment grade exceeds max_grade={max_grade} "
                       "(pass the true maximum_relevance to rank_eval): "),
                 F.coalesce(F.col("grade").cast("string"), F.lit("NULL"))))
    judgments = judgments.withColumn(
        "grade", F.when(_chk.isNull(), F.col("grade")))
    win = hits.filter(F.col("rank") <= k).select("query_id", id_col, "rank")
    graded = (judgments.join(F.broadcast(win), ["query_id", id_col])
              .select("query_id", "rank", "grade")
              .unionByName(
                  win.join(judgments.select("query_id", id_col),
                           ["query_id", id_col], "left_anti")
                  .select("query_id", "rank", F.lit(0.0).alias("grade"))))
    # ERR@k (Chapelle et al. 2009): Σ_r (R_r/r)·Π_{i<r}(1−R_i) with
    # R = (2^g − 1)/2^max_grade. The cascade product is computed as
    # exp(cumsum(ln(1−R)) over preceding ranks) — the same expression the
    # SQL oracle evaluates, so both engines do identical double ops
    # (the eager check above guarantees 1−R > 0).
    rr = (F.pow(F.lit(2.0), F.col("grade")) - 1.0) / F.lit(2.0 ** max_grade)
    werr = Window.partitionBy("query_id").orderBy("rank") \
        .rowsBetween(Window.unboundedPreceding, -1)
    errd = graded.withColumn("_r", rr).withColumn(
        "_prod", F.exp(F.coalesce(F.sum(F.log(1.0 - F.col("_r"))).over(werr),
                                  F.lit(0.0))))
    err = errd.groupBy("query_id").agg(
        F.sum(F.col("_r") / F.col("rank") * F.col("_prod")).alias("err"))
    per = graded.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_ret"),
        F.sum(F.when(F.col("grade") > 0, 1).otherwise(0)).alias("n_rel_ret"),
        F.min(F.when(F.col("grade") > 0, F.col("rank"))).alias("first_rel"),
        F.sum((F.pow(F.lit(2.0), F.col("grade")) - 1.0) /
              F.log2(F.col("rank") + F.lit(1.0))).alias("dcg"),
    )
    jw = Window.partitionBy("query_id").orderBy(F.desc("grade"), F.asc(id_col))
    rel = judgments.filter(F.col("grade") > 0)
    ideal = (rel.withColumn("irank", F.row_number().over(jw))
             .filter(F.col("irank") <= k)
             .groupBy("query_id")
             .agg(F.sum((F.pow(F.lit(2.0), F.col("grade")) - 1.0) /
                        F.log2(F.col("irank") + F.lit(1.0))).alias("idcg")))
    nrel = rel.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
    return (per
            .join(F.broadcast(ideal), "query_id", "left")
            .join(F.broadcast(nrel), "query_id", "left")
            .join(F.broadcast(err), "query_id", "left")
            .select(
                "query_id",
                (F.col("n_rel_ret") / F.col("n_ret")).alias("p_at_k"),
                F.when(F.coalesce(F.col("n_rel"), F.lit(0)) > 0,
                       F.col("n_rel_ret") / F.col("n_rel"))
                .otherwise(F.lit(0.0)).alias("recall_at_k"),
                F.coalesce(F.lit(1.0) / F.col("first_rel"),
                           F.lit(0.0)).alias("mrr"),
                F.col("dcg").alias("dcg_at_k"),
                F.when(F.coalesce(F.col("idcg"), F.lit(0.0)) > 0,
                       F.col("dcg") / F.col("idcg"))
                .otherwise(F.lit(0.0)).alias("ndcg_at_k"),
                F.coalesce(F.col("err"), F.lit(0.0)).alias("err_at_k"),
            ))


def explain_score(scores: DataFrame, stats: DataFrame, qterms: DataFrame,
                  k: int = 10, id_col: str = "doc_id") -> DataFrame:
    """ES ``_explain`` / Lucene ``Explanation``: per-term score breakdown
    for each query's top-k hits — (query_id, doc_id, rn, doc_score, term,
    tf, df, idf, term_score, contribution). A hit's term rows sum exactly
    to its doc_score (contribution sums to 1), which is the auditable
    form of the engine's rank-identity claim.

    Plan: the hits come from the same scoring shuffle as ``bm25_topk``;
    the breakdown then re-probes the scores relation with the (small)
    k x |queries| hit set and the query terms both broadcast, so the
    second pass touches only postings of query terms for ranked docs.
    ``stats`` is the term_stats relation — broadcast, never shuffled.
    """
    hits = bm25_topk(scores, qterms, k, id_col).withColumnRenamed(
        "score", "doc_score").withColumnRenamed("rank", "rn")
    detail = (scores.join(F.broadcast(qterms), "term")
              .join(F.broadcast(hits), ["query_id", id_col])
              .join(F.broadcast(stats.select("term", "df", "idf")), "term"))
    return detail.select(
        "query_id", id_col, F.col("rn").cast("long").alias("rn"),
        "doc_score", "term", "tf", "df", "idf",
        F.col("score").alias("term_score"),
        (F.col("score") / F.nullif(F.col("doc_score"), F.lit(0.0)))
        .alias("contribution"))


def child_hits(scores: DataFrame, qterms: DataFrame, parents: DataFrame,
               parent_col: str, id_col: str = "doc_id") -> DataFrame:
    """All matching (query_id, parent, child, score) rows — the un-cut
    child relation behind a block join. ``parents`` is the (id → parent)
    projection of the corpus; the join onto the aggregated hits is keyed
    on the child id (one shuffle; both sides are |matching children|- and
    corpus-sized respectively, so no broadcast is assumed)."""
    hits = (scores.join(F.broadcast(qterms), "term")
            .groupBy("query_id", id_col)
            .agg(F.sum("score").alias("score")))
    return hits.join(parents.select(id_col, parent_col), id_col)


def has_child_topk(scores: DataFrame, qterms: DataFrame, parents: DataFrame,
                   parent_col: str, k: int = 10, score_mode: str = "max",
                   min_children: int = 1, id_col: str = "doc_id") -> DataFrame:
    """ES ``has_child`` / Lucene ToParentBlockJoinQuery: rank PARENTS by
    their matching children's relevance — (query_id, parent, score,
    n_children, rank), top-k parents per query.

    ``score_mode`` ∈ {max, sum, avg, min} (ES semantics: how child scores
    fold into the parent's); ``min_children`` drops parents with too few
    matching children BEFORE the ranking window (the ES knob).

    Plan: the child scoring shuffle is exactly ``bm25_topk``'s; folding
    adds ONE groupBy((query, parent)) whose output is ≤ |queries|·|parents|
    rows, then the top-k window runs on that bounded relation. Children
    never ride past the fold — a parent with a million matching files
    contributes one row per query downstream.
    """
    modes = {"max": F.max("score"), "sum": F.sum("score"),
             "avg": F.avg("score"), "min": F.min("score")}
    if score_mode not in modes:
        raise ValueError(f"score_mode must be one of {sorted(modes)}")
    folded = (child_hits(scores, qterms, parents, parent_col, id_col)
              .groupBy("query_id", parent_col)
              .agg(modes[score_mode].alias("score"),
                   F.count(F.lit(1)).alias("n_children"))
              .filter(F.col("n_children") >= int(min_children)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(parent_col))
    return (folded.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", parent_col, "score", "n_children", "rank"))


def block_join_inner_hits(scores: DataFrame, qterms: DataFrame,
                          parents: DataFrame, parent_col: str,
                          top_parents: DataFrame, m: int = 3,
                          id_col: str = "doc_id") -> DataFrame:
    """ES ``inner_hits``: the top-m matching children under each ranked
    parent — (query_id, parent, doc_id, score, child_rank). ``top_parents``
    is a ``has_child_topk`` result (|queries|·k rows, broadcast), so this
    second pass prunes the child hits map-side before its per-(query,
    parent) window."""
    tp = top_parents.select("query_id", parent_col)
    ch = (child_hits(scores, qterms, parents, parent_col, id_col)
          .join(F.broadcast(tp), ["query_id", parent_col]))
    w = Window.partitionBy("query_id", parent_col).orderBy(
        F.desc("score"), F.asc(id_col))
    return (ch.withColumn("child_rank", F.row_number().over(w))
            .filter(F.col("child_rank") <= m)
            .select("query_id", parent_col, id_col, "score", "child_rank"))


def bm25plus_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    delta: float = 1.0,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
) -> DataFrame:
    """BM25+ (Lv & Zhai, CIKM 2011 "Lower-bounding term frequency
    normalization"): classical Okapi with a per-matched-term floor,

        score(q,d) = Σ_{t∈q∩d} idf(t) · [ tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) + δ ]

    fixing Okapi's over-penalization of LONG documents — a very long doc
    matching a term can score arbitrarily close to a non-matching doc
    under plain BM25; the δ floor keeps every match worth at least
    δ·idf. δ=1.0 is the paper's recommended default. Same physical shape
    as ``okapi_bm25_topk``: one tokenize+agg pass, broadcast query
    joins, one (query, doc) agg, WindowGroupLimit.
    """
    if delta < 0:
        raise ValueError("delta must be >= 0")
    if k1 < 0 or not 0.0 <= b <= 1.0:
        raise ValueError("need k1 >= 0 and 0 <= b <= 1")
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    x = x.persist()
    try:
        row = (x.groupBy(id_col).agg(F.max("doc_len").alias("dl"))
               .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
               .collect()[0])
        n_docs, avgdl = int(row["n"]), row["avgdl"]
        if n_docs == 0:
            return _empty_topk(corpus.sparkSession, id_col)
        terms_only = qterms.select("term").distinct()
        dfs = (x.join(F.broadcast(terms_only), "term")
               .groupBy("term").agg(F.countDistinct(id_col).alias("df")))
        idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) /
                    (F.col("df") + 0.5))
        denom = (F.col("tf") + F.lit(k1) *
                 (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avgdl)))
        hits = (
            x.join(F.broadcast(qterms), "term")
            .join(F.broadcast(dfs.select("term", idf.alias("idf"))), "term")
            .groupBy("query_id", id_col)
            .agg(F.sum(F.col("idf") *
                       (F.col("tf") * F.lit(k1 + 1.0) / denom + F.lit(delta)))
                 .alias("score"))
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                   F.asc(id_col))
        out = (hits.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k)
               .select("query_id", id_col, "score", "rank")
               .localCheckpoint(eager=True))
    finally:
        x.unpersist()
    return out


def terms_set_match(
    corpus: DataFrame,
    terms,
    msm_expr,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
) -> DataFrame:
    """ES ``terms_set`` query: docs matching at least a PER-DOCUMENT
    minimum number of the given terms — ``msm_expr`` is a Column over the
    corpus row (ES's ``minimum_should_match_field`` / script), so every
    document carries its own threshold. Returns (id, n_matched,
    msm_required). One tokenize pass; the term set broadcasts as a
    literal filter; the threshold is evaluated in the same projection —
    no join beyond the counting agg.
    """
    ts = sorted({str(t) for t in terms})
    if not ts:
        raise ValueError("terms must be non-empty")
    from bertopic_spark.tokenizer import tokens_expr

    toks = tokens_expr(F.col(text_col), mode)
    n_matched = F.size(F.array_intersect(
        F.array_distinct(toks), F.array(*[F.lit(t) for t in ts])))
    return (corpus.select(F.col(id_col),
                          n_matched.cast("long").alias("n_matched"),
                          msm_expr.cast("long").alias("msm_required"))
            .filter((F.col("n_matched") >= F.col("msm_required")) &
                    (F.col("n_matched") > 0)))


_FS_SCORE_MODES = ("sum", "avg", "max", "min", "multiply")
_FS_BOOST_MODES = ("multiply", "sum", "replace")


def function_score_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    functions,
    weights=None,
    score_mode: str = "sum",
    boost_mode: str = "multiply",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
) -> DataFrame:
    """ES ``function_score`` with MULTIPLE functions: each function is a
    Column over the corpus row (field_value_factor, decay, md5
    random_score, script — anything expressible), weighted and combined
    per ``score_mode`` (sum/avg/max/min/multiply of wᵢ·fᵢ), then blended
    with the Okapi relevance score per ``boost_mode``
    (multiply/sum/replace). ``field_value_factor_topk`` is the
    single-function special case. Ranked AFTER blending (not a rescore).

    Physical shape: one Okapi hits leg (broadcast query joins), ONE
    narrow projection evaluates every function over the corpus row
    (functions never cost a pass each), one join hits⋈functions on the
    id, one rank window.
    """
    fns = list(functions)
    if not fns:
        raise ValueError("functions must be non-empty")
    ws = [1.0] * len(fns) if weights is None else [float(w) for w in weights]
    if len(ws) != len(fns):
        raise ValueError("weights must match the number of functions")
    if score_mode not in _FS_SCORE_MODES:
        raise ValueError(f"score_mode must be one of {_FS_SCORE_MODES}")
    if boost_mode not in _FS_BOOST_MODES:
        raise ValueError(f"boost_mode must be one of {_FS_BOOST_MODES}")
    hits = _okapi_query_hits(corpus, qterms, k1, b, text_col, id_col, mode)
    wf = [(F.lit(w) * f.cast("double")).alias(f"_f{i}")
          for i, (w, f) in enumerate(zip(ws, fns))]
    fn_rel = corpus.select(F.col(id_col), *wf)
    cols = [F.col(f"_f{i}") for i in range(len(fns))]
    if score_mode == "sum":
        combined = sum(cols[1:], cols[0])
    elif score_mode == "avg":
        combined = sum(cols[1:], cols[0]) / F.lit(float(len(cols)))
    elif score_mode == "max":
        combined = F.greatest(*cols) if len(cols) > 1 else cols[0]
    elif score_mode == "min":
        combined = F.least(*cols) if len(cols) > 1 else cols[0]
    else:
        combined = cols[0]
        for c in cols[1:]:
            combined = combined * c
    joined = hits.join(fn_rel, id_col).withColumn("_fs", combined)
    blended = {"multiply": F.col("score") * F.col("_fs"),
               "sum": F.col("score") + F.col("_fs"),
               "replace": F.col("_fs")}[boost_mode]
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (joined.select("query_id", id_col, blended.alias("score"))
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


_RF_FUNCTIONS = ("saturation", "log", "sigmoid", "linear")


def rank_feature_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    feature_col: str,
    function: str = "saturation",
    pivot: float | None = None,
    scaling_factor: float = 1.0,
    exponent: float = 0.6,
    boost: float = 1.0,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
) -> DataFrame:
    """ES ``rank_feature`` query as a bool-``should`` clause beside a
    match: final score = Okapi(q, d) + boost · fn(S_d) where S_d is a
    static per-document numeric feature (pagerank, freshness, stars —
    here any numeric ``feature_col``). Saturation functions (ES
    rank-feature docs):

        saturation  S / (S + pivot)
        log         ln(scaling_factor + S)
        sigmoid     S^exp / (S^exp + pivot^exp)
        linear      S

    ``pivot=None`` under saturation/sigmoid uses ES's default — the
    geometric mean exp(avg(ln S)) over positive features (one scalar
    agg). Non-positive features contribute 0 under saturation/sigmoid/
    log (ES requires strictly positive features; we degrade per-row
    instead of failing the index). The feature term is additive, so docs
    matching NO query term never enter (same as ES: ``should`` adds
    only to hits).

    Physical shape: one Okapi hits leg (broadcast query joins, shared
    tokenize pass), the feature evaluated in ONE narrow projection over
    the corpus (no extra pass), one id join, one rank window. The
    feature column rides the corpus row — at 100 TB this is a
    column-pruned scan of (id, feature), never a separate relation.
    """
    if function not in _RF_FUNCTIONS:
        raise ValueError(f"function must be one of {_RF_FUNCTIONS}")
    if function in ("saturation", "sigmoid") and pivot is None:
        row = (corpus.filter(F.col(feature_col) > 0)
               .agg(F.exp(F.avg(F.log(F.col(feature_col).cast("double"))))
                    .alias("gm")).collect()[0])
        pivot = float(row["gm"]) if row["gm"] is not None else 1.0
    s = F.col(feature_col).cast("double")
    if function == "saturation":
        fscore = F.when(s > 0, s / (s + F.lit(float(pivot)))).otherwise(F.lit(0.0))
    elif function == "log":
        fscore = F.when(s > 0, F.log(F.lit(float(scaling_factor)) + s)
                        ).otherwise(F.lit(0.0))
    elif function == "sigmoid":
        p = F.pow(F.lit(float(pivot)), F.lit(float(exponent)))
        se = F.pow(s, F.lit(float(exponent)))
        fscore = F.when(s > 0, se / (se + p)).otherwise(F.lit(0.0))
    else:
        # NULL features must score as plain Okapi, matching the other
        # three variants (their when/otherwise already maps NULL → 0.0);
        # a bare NULL here would otherwise null the final sum.
        fscore = F.coalesce(s, F.lit(0.0))
    hits = _okapi_query_hits(corpus, qterms, k1, b, text_col, id_col, mode)
    feat = corpus.select(F.col(id_col),
                         (F.lit(float(boost)) * fscore).alias("_rf"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (hits.join(feat, id_col)
            .select("query_id", id_col,
                    (F.col("score") + F.col("_rf")).alias("score"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))


def distance_feature_topk(
    df: DataFrame,
    field_col: str,
    origin,
    pivot: float,
    boost: float = 1.0,
    filter_cond=None,
    k: int = 10,
    id_col: str = "event_id",
    is_timestamp: bool = True,
) -> DataFrame:
    """ES ``distance_feature`` query (date flavor): score every matching
    row by proximity of ``field_col`` to ``origin``,

        score = boost · pivot / (pivot + |field − origin|)

    with the distance in MICROSECONDS for timestamp fields (``pivot``
    e.g. ``7*86400*1_000_000`` for "7d" — unix_micros matches DuckDB's
    epoch_us exactly, no sub-second truncation) or in the field's own
    units for plain numerics. ``filter_cond`` is the bool-filter context
    (ES: the query the clause sits beside); rows failing it never score.
    Returns (id, score, rank) — the "boost recent documents" primitive.

    One narrow pass: filter → score projection → one rank window over a
    single partition of k survivors (global top-k, WindowGroupLimit
    pushes the limit into the sort). No join, no shuffle beyond the
    top-k exchange.
    """
    if pivot <= 0:
        raise ValueError("pivot must be > 0")
    x = df if filter_cond is None else df.filter(filter_cond)
    if is_timestamp:
        dist = F.abs(F.unix_micros(F.col(field_col).cast("timestamp")) -
                     F.unix_micros(F.lit(origin).cast("timestamp")))
    else:
        dist = F.abs(F.col(field_col).cast("double") - F.lit(float(origin)))
    score = (F.lit(float(boost)) * F.lit(float(pivot)) /
             (F.lit(float(pivot)) + dist.cast("double")))
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return (x.select(F.col(id_col), score.alias("score"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "score", "rank"))


def bm25l_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    delta: float = 0.5,
    text_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "ascii_code",
) -> DataFrame:
    """BM25L (Lv & Zhai, CIKM 2011 §3.2): length-normalize the TF FIRST,
    then saturate with a shifted floor,

        c' = tf / (1 − b + b·dl/avgdl)
        score(q,d) = Σ_{t∈q∩d} idf(t) · (k1+1)·(c'+δ) / (k1 + c'+δ)
        idf(t) = ln((N+1)/(df+0.5))

    vs BM25+ which adds the δ floor AFTER Okapi saturation. δ=0.5 is the
    paper's default. Completes the lower-bounded family next to
    ``okapi_bm25_topk`` and ``bm25plus_topk``; same physical shape (one
    tokenize+agg pass, broadcast query joins, WindowGroupLimit).
    """
    if delta < 0:
        raise ValueError("delta must be >= 0")
    if k1 < 0 or not 0.0 <= b <= 1.0:
        raise ValueError("need k1 >= 0 and 0 <= b <= 1")
    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    x = x.persist()
    try:
        row = (x.groupBy(id_col).agg(F.max("doc_len").alias("dl"))
               .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
               .collect()[0])
        n_docs, avgdl = int(row["n"]), row["avgdl"]
        if n_docs == 0:
            return _empty_topk(corpus.sparkSession, id_col)
        terms_only = qterms.select("term").distinct()
        dfs = (x.join(F.broadcast(terms_only), "term")
               .groupBy("term").agg(F.countDistinct(id_col).alias("df")))
        idf = F.log((F.lit(float(n_docs) + 1.0)) / (F.col("df") + 0.5))
        cprime = (F.col("tf") /
                  (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avgdl)))
        sat = (F.lit(k1 + 1.0) * (cprime + F.lit(delta)) /
               (F.lit(k1) + cprime + F.lit(delta)))
        hits = (
            x.join(F.broadcast(qterms), "term")
            .join(F.broadcast(dfs.select("term", idf.alias("idf"))), "term")
            .groupBy("query_id", id_col)
            .agg(F.sum(F.col("idf") * sat).alias("score"))
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                   F.asc(id_col))
        out = (hits.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k)
               .select("query_id", id_col, "score", "rank")
               .localCheckpoint(eager=True))
    finally:
        x.unpersist()
    return out


def multi_match_cross_fields_topk(
    corpus: DataFrame,
    qterms: DataFrame,
    fields,
    k: int = 10,
    tie_breaker: float = 0.0,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    mode: str = "ascii_code",
) -> DataFrame:
    """ES ``multi_match`` type=cross_fields (Lucene BlendedTermQuery):
    the "first_name/last_name" problem — treat the field GROUP as one
    field by blending term STATISTICS across fields, then combine PER
    TERM (not per whole-query leg, which is what best_fields does):

        df(t)      = max_f df_f(t)           (blended document frequency)
        s_f(t, d)  = boost_f · idf_blend(t) · okapi_tf(tf_f, dl_f, avgdl_f)
        s(t, d)    = max_f s_f + tie_breaker · Σ_{f≠argmax} s_f
        score(q,d) = Σ_{t∈q} s(t, d)

    Blending fixes the classic failure: a last name that is RARE in
    last_name but absent from first_name would otherwise get a giant
    per-field idf in one leg and dominate; the max-df blend gives every
    field the same (conservative) idf. tie_breaker=0 (ES default for
    cross_fields) takes each term's best field only.

    Physical shape: one tokenize+agg pass per field (inherent — fields
    have their own tf/dl), per-field df aggs on query terms only
    (broadcast), a |terms|-sized blended-df relation broadcast into each
    leg, one union + per-(query, term, doc) agg + per-(query, doc) agg.
    """
    fields = dict(fields)
    if not fields:
        raise ValueError("fields must be a non-empty {column: boost} map")
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    # rank on the 6dp-rounded score: the blended-idf sum accumulates in
    # engine-dependent order, and an ulp gap between genuinely-tied docs
    # would otherwise flip the tie-break (score, id) across engines
    rank_key = F.round(F.col("score"), 6)
    terms_only = qterms.select("term").distinct()
    n_docs = corpus.count()
    if n_docs == 0:
        return _empty_topk(corpus.sparkSession, id_col)
    xs, dfs = {}, []
    for col in fields:
        x = doc_term_counts(corpus, col, [id_col], mode, with_len=True)
        x = x.persist()
        xs[col] = x
        dfs.append(x.join(F.broadcast(terms_only), "term")
                   .groupBy("term").agg(F.countDistinct(id_col).alias("df")))
    try:
        u_df = dfs[0]
        for d in dfs[1:]:
            u_df = u_df.unionAll(d)
        blended = u_df.groupBy("term").agg(F.max("df").alias("df"))
        idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) /
                    (F.col("df") + 0.5))
        bidf = F.broadcast(blended.select("term", idf.alias("idf")))
        legs = []
        for col, boost in fields.items():
            x = xs[col]
            row = (x.groupBy(id_col).agg(F.max("doc_len").alias("dl"))
                   .agg(F.avg("dl").alias("avgdl")).collect()[0])
            avgdl = row["avgdl"]
            if avgdl is None:
                continue
            denom = (F.col("tf") + F.lit(k1) *
                     (F.lit(1.0 - b) +
                      F.lit(b) * F.col("doc_len") / F.lit(avgdl)))
            legs.append(
                x.join(F.broadcast(qterms), "term").join(bidf, "term")
                .select("query_id", "term", F.col(id_col),
                        (F.lit(float(boost)) * F.col("idf") * F.col("tf") *
                         F.lit(k1 + 1.0) / denom).alias("fscore")))
        if not legs:
            return _empty_topk(corpus.sparkSession, id_col)
        u = legs[0]
        for leg in legs[1:]:
            u = u.unionAll(leg)
        per_term = (u.groupBy("query_id", "term", id_col)
                    .agg((F.max("fscore") + F.lit(float(tie_breaker)) *
                          (F.sum("fscore") - F.max("fscore")))
                         .alias("tscore")))
        hits = (per_term.groupBy("query_id", id_col)
                .agg(F.sum("tscore").alias("score")))
        w = Window.partitionBy("query_id").orderBy(F.desc(rank_key),
                                                   F.asc(id_col))
        out = (hits.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k)
               .select("query_id", id_col, "score", "rank")
               .localCheckpoint(eager=True))
    finally:
        for x in xs.values():
            x.unpersist()
    return out


_DECAY_KINDS = ("gauss", "exp", "linear")


def decay_score_expr(field, origin: float, scale: float,
                     offset: float = 0.0, decay: float = 0.5,
                     kind: str = "gauss"):
    """ES function_score decay functions (gauss/exp/linear) over a
    numeric or date-distance column — score 1.0 inside ``offset`` of
    ``origin``, decaying so that a point at ``origin ± (offset+scale)``
    scores exactly ``decay``:

        d        = max(0, |field − origin| − offset)
        gauss    = exp(−d² · ln(1/decay)... as σ² = −scale²/(2·ln decay))
        exp      = exp(d · ln(decay)/scale)
        linear   = max(0, (s − d)/s),  s = scale/(1 − decay)

    Returns a Column — compose it as a ``function_score_topk`` function
    (one projection evaluates any number of decays; nothing here costs a
    pass). ``field`` may be a column name or a Column (e.g. a
    unix_micros distance for date decay).
    """
    import math

    if kind not in _DECAY_KINDS:
        raise ValueError(f"kind must be one of {_DECAY_KINDS}")
    if scale <= 0 or not 0.0 < decay < 1.0 or offset < 0:
        raise ValueError("need scale > 0, 0 < decay < 1, offset >= 0")
    x = F.col(field) if isinstance(field, str) else field
    d = F.greatest(F.lit(0.0),
                   F.abs(x.cast("double") - F.lit(float(origin)))
                   - F.lit(float(offset)))
    if kind == "gauss":
        sigma2 = -(scale * scale) / (2.0 * math.log(decay))
        return F.exp(-(d * d) / F.lit(2.0 * sigma2))
    if kind == "exp":
        lam = math.log(decay) / scale
        return F.exp(d * F.lit(lam))
    s = scale / (1.0 - decay)
    return F.greatest(F.lit(0.0), (F.lit(s) - d) / F.lit(s))


def collapse_inner_hits(hits: DataFrame, meta: DataFrame,
                        collapse_col: str, per_key: int = 1, k: int = 10,
                        inner_size: int = 3,
                        id_col: str = "doc_id") -> DataFrame:
    """ES ``collapse`` with ``inner_hits``: beside each collapsed winner,
    expose the group's top ``inner_size`` members (the "other results
    from this repo/domain" expansion) — (query_id, winner id, collapse
    value, score, rank, inner id, inner score, inner_rank), one row per
    inner hit, inner_rank 1 = the winner itself.

    Same single exchange as ``collapse_topk``: the group window already
    ranks every member, so inner hits are the rows with group-rank ≤
    inner_size joined back to their group's winner — no second scoring
    pass, no per-group collect.
    """
    if per_key < 1 or k < 1 or inner_size < 1:
        raise ValueError("per_key, k and inner_size must be >= 1")
    j = hits.join(meta.select(id_col, collapse_col), id_col)
    wk = Window.partitionBy("query_id", collapse_col).orderBy(
        F.desc("score"), F.asc(id_col))
    wq = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                F.asc(id_col))
    ranked = j.withColumn("kr", F.row_number().over(wk))
    winners = (ranked.filter(F.col("kr") <= per_key)
               .withColumn("rank", F.row_number().over(wq))
               .filter(F.col("rank") <= k)
               .select("query_id", F.col(id_col).alias("winner_id"),
                       collapse_col, F.col("score").alias("winner_score"),
                       "rank"))
    inner = ranked.filter(F.col("kr") <= inner_size).select(
        "query_id", collapse_col, F.col(id_col).alias("inner_id"),
        F.col("score").alias("inner_score"),
        F.col("kr").alias("inner_rank"))
    return winners.join(inner, ["query_id", collapse_col]).select(
        "query_id", "winner_id", collapse_col, "winner_score", "rank",
        "inner_id", "inner_score", "inner_rank")


def weighted_rrf_fuse(rankings, weights, k0: int = 60, k: int = 10,
                      id_col: str = "doc_id") -> DataFrame:
    """Weighted reciprocal-rank fusion (the OpenSearch/Vespa hybrid
    knob): score = Σ_legs w_leg / (k0 + rank_leg) — plain RRF with a
    per-retriever trust multiplier, so a strong lexical leg can
    outvote an experimental dense leg without score calibration.
    w = 1 for every leg degrades exactly to ``rrf_fuse`` (pytest-
    pinned). Same physical shape: union of top-k legs + one
    (query, id) agg.
    """
    from functools import reduce as _reduce

    legs = list(rankings)
    ws = [float(x) for x in weights]
    if not legs or len(ws) != len(legs):
        raise ValueError("need one weight per ranking leg")
    if any(x < 0 for x in ws):
        raise ValueError("weights must be >= 0")
    if k0 < 0 or k < 1:
        raise ValueError("k0 must be >= 0 and k >= 1")
    norm = [r.select("query_id", F.col(id_col),
                     (F.lit(w) / (F.lit(k0) + F.col("rank"))).alias("c"))
            for r, w in zip(legs, ws)]
    hits = (_reduce(DataFrame.unionByName, norm)
            .groupBy("query_id", id_col).agg(F.sum("c").alias("score")))
    w_ = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                F.asc(id_col))
    return (hits.withColumn("rank", F.row_number().over(w_))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "score", "rank"))
