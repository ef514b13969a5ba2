"""c-TF-IDF / BM25 term weighting — the correctness keystone.

Distributed re-expression of ``ClassTfidfTransformer`` (reference
``bertopic/vectorizers/_ctfidf.py:54-115``), long-form instead of CSR:

  fit:       df[t]  = Σ_c X[c,t]            — groupBy(term).sum
             A      = int(mean_c Σ_t X[c,t]) — groupBy(class).sum → avg → floor
             idf[t] = ln(A/df + 1)                      (default, :82)
             idf[t] = ln(1 + (A - df + 0.5)/(df + 0.5)) (bm25,    :77)
  transform: L1 row-normalize (:108), optional sqrt (:110), × idf (:113).

All float64; ints stay longs until the one division, so every score is a
deterministic function of integer statistics — bit-stable across partition
counts (key for rank-identity at N vs 4N executors, north rule).

BM25 clamp: for ultra-frequent terms (df > A + 0.5 + (df+0.5) ⇒ arg ≤ 0)
numpy would emit NaN; the engine floors the log argument at ``clamp``
(default 1e-10 ⇒ idf ≈ -23) so scores stay total-ordered and SQL engines
don't error. Set ``clamp=None`` for reference-exact NaN behavior.

The idf table is tiny (one row per term) → broadcast hash join onto the
postings; the L1 norm is a second small broadcast join on class totals
(cheaper than a window over the big posting relation: no sort, no extra
shuffle of the fact table — class totals reuse the groupBy shuffle).
"""

from __future__ import annotations

from functools import reduce
from operator import and_
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_CLAMP = 1e-10


def class_lengths(x: DataFrame, class_cols: Sequence[str]) -> DataFrame:
    return x.groupBy(*class_cols).agg(F.sum("tf").alias("class_len"))


def avg_nr_samples(x: DataFrame, class_cols: Sequence[str]) -> DataFrame:
    """1-row DF: int-truncated mean class length (``_ctfidf.py:73``)."""
    return (
        class_lengths(x, class_cols)
        .agg(F.floor(F.avg("class_len")).cast("long").alias("avg_nr_samples"))
    )


def term_stats(
    x: DataFrame,
    class_cols: Sequence[str],
    bm25_weighting: bool = False,
    clamp: float | None = DEFAULT_CLAMP,
    seed_words: Sequence[str] | None = None,
    seed_multiplier: float = 2.0,
    seed_topic_list: Sequence[Sequence[str]] | None = None,
) -> DataFrame:
    """(term, df, idf) — the global statistics table. Small; broadcast it.

    seed_words: per-term idf multiplier for guided topics (reference
    ``_ctfidf.py:84-86`` driven from ``_bertopic.py:4433-4446``; exact
    matches get ``seed_multiplier``, default 2).

    seed_topic_list: the reference's guided-topics branch
    (``_bertopic.py:4434-4446``) — the per-topic seed lists are FLATTENED
    and every listed word's multiplier is 1.2. When both are set, a word in
    seed_topic_list gets 1.2 even if it is also in seed_words (the
    reference's second assignment overrides).
    """
    df_t = x.groupBy("term").agg(F.sum("tf").alias("df"))
    avg = avg_nr_samples(x, class_cols)
    joined = df_t.crossJoin(F.broadcast(avg))
    if bm25_weighting:
        arg = 1.0 + (F.col("avg_nr_samples") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        if clamp is not None:
            arg = F.greatest(arg, F.lit(float(clamp)))
        idf = F.log(arg)
    else:
        idf = F.log(F.col("avg_nr_samples") / F.col("df") + 1.0)
    guided = sorted({w for seeds in (seed_topic_list or []) for w in seeds})
    mult = None
    if seed_words:
        mult = F.when(
            F.col("term").isin(list(seed_words)), F.lit(float(seed_multiplier))
        ).otherwise(F.lit(1.0))
    if guided:  # overrides seed_words for words in both (reference order)
        base = mult if mult is not None else F.lit(1.0)
        mult = F.when(F.col("term").isin(guided), F.lit(1.2)).otherwise(base)
    if mult is not None:
        idf = idf * mult
    return joined.select("term", "df", idf.alias("idf"))


def ctfidf(
    x: DataFrame,
    class_cols: Sequence[str],
    bm25_weighting: bool = False,
    reduce_frequent_words: bool = False,
    clamp: float | None = DEFAULT_CLAMP,
    stats: DataFrame | None = None,
    with_weight: bool = False,
) -> DataFrame:
    """transform(X): (class_cols..., term, tf, score).

    ``stats`` lets callers reuse a frozen idf table (the reference reuses
    ``_idf_diag`` across every transform — ``_ctfidf.py:88-94``); per-slice
    re-aggregation (operators/slices.py) depends on this.

    ``with_weight`` also returns the two factors of each score:
    ``class_len`` and ``idf`` (score = tf / class_len, its sqrt under
    ``reduce_frequent_words``, times idf).

    A NULL class is a class like any other: the class lengths join on the
    class columns null-safely, as ``term_stats`` counts the NULL class's
    rows in df and in A.
    """
    if stats is None:
        stats = term_stats(x, class_cols, bm25_weighting, clamp)
    if "class_len" in x.columns:
        joined = x  # caller pre-computed lengths narrowly (doc-level path)
    else:
        lens = class_lengths(x, class_cols).select(
            *[F.col(c).alias(f"_class{i}") for i, c in enumerate(class_cols)],
            "class_len")
        on = [F.col(c).eqNullSafe(F.col(f"_class{i}"))
              for i, c in enumerate(class_cols)]
        joined = x.join(F.broadcast(lens), reduce(and_, on)).drop(
            *[f"_class{i}" for i in range(len(class_cols))])
    tf_norm = F.col("tf") / F.col("class_len")
    if reduce_frequent_words:
        tf_norm = F.sqrt(tf_norm)
    factors = ["class_len", "idf"] if with_weight else []
    return (
        joined.join(F.broadcast(stats.select("term", "idf")), "term")
        .select(*class_cols, "term", "tf", (tf_norm * F.col("idf")).alias("score"),
                *factors)
    )


def top_k_terms(scores: DataFrame, class_cols: Sequence[str], k: int = 10) -> DataFrame:
    """Per-class top-k keywords (reference ``_extract_words_per_topic``,
    ``_bertopic.py:4499-4514``), deterministic tie-break on term asc."""
    from pyspark.sql import Window

    w = Window.partitionBy(*class_cols).orderBy(F.desc("score"), F.asc("term"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*class_cols, "term", "score", "rank")
    )
