"""Block-max pruned top-k retrieval over compressed posting segments.

Distributed adaptation of block-max WAND (Ding & Suel 2011, public): the
classic algorithm walks per-term cursors with a heap — inherently serial
per query. At cluster scale we prune at BUCKET granularity instead: blocks
are doc-range aligned (blocks.py), so for each query the upper bound of any
doc in bucket r is  ub(q, r) = Σ_{t ∈ q} max_score(t, r)  — one groupBy.

Two phases, both safe (never prunes a true top-k doc):

  A. seed θ: exact-score the ``seed_buckets`` highest-ub buckets per query
     → θ_q = k-th best score found (−∞ if < k docs seen).
  B. prune: drop buckets with ub < θ_q (any doc there scores ≤ ub < θ_q);
     exact-score survivors, window top-k.

Exact scoring decodes payloads in an Arrow-vectorized pass restricted to
(query term × surviving bucket) — the decoded volume is the pruning win;
scores are float64 end-to-end, so results are RANK-IDENTICAL to the
exhaustive scorer (tested on every fixture query).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from bertopic_spark.index.segments import block_decoder


def _decode_score(cand: DataFrame) -> DataFrame:
    """(query_id, term, blk, payload) → exact (query_id, doc_id, score) sums;
    span and codec come from the payload tag."""
    out_schema = StructType([
        StructField("query_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
    ])

    span, decode_fn = block_decoder(cand)

    def gen(batches):
        import numpy as np

        for pdf in batches:
            qids, dids, scs = [], [], []
            for qid, blk, payload in zip(pdf["query_id"], pdf["blk"], pdf["payload"]):
                ids, _, s = decode_fn(bytes(payload), int(blk) * span)
                qids.append(np.full(len(ids), int(qid), dtype=np.int64))
                dids.append(ids)
                scs.append(s)
            if not dids:
                yield pd.DataFrame({"query_id": [], "doc_id": [], "score": []})
                continue
            yield pd.DataFrame({
                "query_id": np.concatenate(qids),
                "doc_id": np.concatenate(dids),
                "score": np.concatenate(scs),
            })

    decoded = cand.select("query_id", "blk", "payload").mapInPandas(gen, out_schema)
    return decoded.groupBy("query_id", "doc_id").agg(F.sum("score").alias("score"))


def blockmax_topk(
    blocks: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    seed_buckets: int = 4,
    persist_cand: bool = True,
    _persisted_out: list | None = None,
    stats_out: list | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, rank) — rank-identical to the exhaustive
    scorer; prunes buckets whose block-max upper bound can't reach top-k.

    ``blocks``: build_block_index output (persist it across query batches);
    its payload tag supplies the span and codec.
    ``qterms``: (query_id, term) distinct.

    Cache lifetime (same contract as bm25.py): the candidate relation feeds
    the seed pass, the survivor join, and the final decode, so it is
    persisted (``persist_cand``). A long-lived serving session must either
    pass ``persist_cand=False`` or collect the handle via ``_persisted_out``
    and ``unpersist()`` it after materializing each batch — otherwise every
    batch pins another cached relation in executor storage.

    ``stats_out``: pass a list to receive a LAZY per-query pruning-stats
    relation (query_id, n_buckets, n_survivors, n_skipped, skip_rate) —
    "pruning actually prunes" is measured, not assumed (cheap: counts over
    the bucket-granular ub/survivor relations, never the postings).
    """
    cand = blocks.join(F.broadcast(qterms), "term").select(
        "query_id", "term", "blk", "max_score", "payload"
    )
    if persist_cand:
        cand = cand.persist()
        if _persisted_out is not None:
            _persisted_out.append(cand)
    ub = cand.groupBy("query_id", "blk").agg(F.sum("max_score").alias("ub"))
    w_ub = Window.partitionBy("query_id").orderBy(F.desc("ub"), F.asc("blk"))
    seed = ub.withColumn("r", F.row_number().over(w_ub)).filter(F.col("r") <= seed_buckets)
    seed_scores = _decode_score(
        cand.join(seed.select("query_id", "blk"), ["query_id", "blk"]))
    w_seed = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    theta = (
        seed_scores.withColumn("r", F.row_number().over(w_seed))
        .filter(F.col("r") == k)
        .select("query_id", F.col("score").alias("theta"))
    )
    survivors = ub.join(theta, "query_id", "left").filter(
        F.col("theta").isNull() | (F.col("ub") >= F.col("theta"))
    )
    if stats_out is not None:
        tot = ub.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_buckets"))
        sur = survivors.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_survivors"))
        nsur = F.coalesce("n_survivors", F.lit(0))
        stats_out.append(
            tot.join(sur, "query_id", "left").select(
                "query_id", "n_buckets", nsur.alias("n_survivors"),
                (F.col("n_buckets") - nsur).alias("n_skipped"),
                F.round((F.col("n_buckets") - nsur) / F.col("n_buckets"),
                        6).alias("skip_rate")))
    final = _decode_score(
        cand.join(survivors.select("query_id", "blk"), ["query_id", "blk"]))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        final.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )
