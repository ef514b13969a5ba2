"""Lucene-style query strings compiled onto the engine's operators.

Grammar (whitespace-separated clauses):

- ``term``            optional (should) — scores, does not gate
- ``+term``           required in every result
- ``-term``           excluded
- ``"a b c"``         positional phrase, required (``-"a b c"`` excludes)
- ``pre*`` / ``w?ld`` wildcard, dictionary-expanded (bounded) disjunction
- ``term~`` ``term~2`` fuzzy (Levenshtein ≤ 1 / ≤ n) disjunction
- ``term^2.5``        query-time boost (plain/+ terms only; the term's
                      score contribution is multiplied — Lucene ``^``;
                      repeating a term re-boosted last-wins)
- ``field:value``     metadata equality on a non-text column
- ``field:[a TO b]``  metadata range on a non-text column — ``[``/``]``
                      inclusive, ``{``/``}`` exclusive (mixable, Lucene
                      syntax), ``*`` = unbounded; numeric bounds compare
                      numerically, anything else lexicographically

Execution = parse → bounded dictionary expansion (``expand_terms`` raises
past ``max_expand`` instead of broadcasting a huge literal) → ONE corpus
scan evaluates every gating clause over the token array (must / must_not /
phrases in WholeStageCodegen; field equalities pushed to the parquet
scan) → BM25 ranking of the gated docs over the union of positive terms
with corpus-wide statistics. A doc must match ≥1 positive term to be
scored (Lucene's boolean-coord shape); a query with no positive terms is
rejected rather than answered wrongly.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bertopic_spark.operators.ctfidf import ctfidf, term_stats
from bertopic_spark.operators.fulltext import (_bound, fuzzy_terms,
                                               prefix_terms, term_dictionary,
                                               wildcard_terms)
from bertopic_spark.operators.postings import doc_term_counts
from bertopic_spark.tokenizer import tokenize_one

_CLAUSE = re.compile(r'([+-]?)(?:"([^"]*)"|(\S+:[\[{][^\]}]*[\]}]|\S+))')
_FUZZY = re.compile(r"^(.+?)~(\d?)$")
_BOOST = re.compile(r"^(.+)\^(\d+(?:\.\d+)?)$")
_RANGE = re.compile(r"^([A-Za-z_][\w.]*):([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])$")


def _range_bound(v: str):
    if v == "*":
        return None
    try:
        return float(v)
    except ValueError:
        return v


def parse_query(q: str, mode: str = "ascii_code") -> dict:
    """Parse a query string into clause lists (terms already tokenized)."""
    spec = {"must": [], "must_not": [], "should": [], "phrases": [],
            "not_phrases": [], "wildcards": [], "fuzzies": [], "fields": [],
            "ranges": [], "boosts": {}}
    for sign, phrase, word in _CLAUSE.findall(q or ""):
        if phrase is not None and phrase != "" or (phrase == "" and word == ""):
            toks = tokenize_one(phrase, mode)
            if not toks:
                continue
            spec["not_phrases" if sign == "-" else "phrases"].append(toks)
            continue
        boost = None
        bm = _BOOST.match(word)
        if bm:
            word = bm.group(1)
            boost = float(bm.group(2))
            if sign == "-" or any(c in word for c in "*?~:"):
                raise ValueError(
                    f"boost only applies to plain/+ terms, got {word!r}")
        rm = _RANGE.match(word)
        if rm:
            if sign:
                raise ValueError(f"range clause {word!r} cannot take +/-")
            col, lb, lo, hi, rb = rm.groups()
            lo, hi = _range_bound(lo), _range_bound(hi)
            if lo is None and hi is None:
                raise ValueError(f"range clause {word!r} is unbounded "
                                 "on both sides")
            if (lo is not None and hi is not None and
                    isinstance(lo, float) != isinstance(hi, float)):
                raise ValueError(f"range clause {word!r} mixes numeric "
                                 "and string bounds")
            spec["ranges"].append((col, lo, hi, lb == "[", rb == "]"))
            continue
        if ":" in word:
            col, _, val = word.partition(":")
            if sign:
                raise ValueError(f"field clause {word!r} cannot take +/-")
            if not col or not val:
                raise ValueError(f"bad field clause {word!r}")
            spec["fields"].append((col, val))
            continue
        m = _FUZZY.match(word)
        if m and "*" not in word and "?" not in word:
            if sign:
                raise ValueError(f"fuzzy clause {word!r} cannot take +/-")
            toks = tokenize_one(m.group(1), mode)
            if len(toks) != 1:
                raise ValueError(f"fuzzy clause {word!r} must be one term")
            spec["fuzzies"].append((toks[0], int(m.group(2) or 1)))
            continue
        if "*" in word or "?" in word:
            if sign:
                raise ValueError(f"wildcard clause {word!r} cannot take +/-")
            spec["wildcards"].append(word.lower())
            continue
        toks = tokenize_one(word, mode)
        key = {"+": "must", "-": "must_not"}.get(sign, "should")
        spec[key].extend(toks)
        if boost is not None:
            for t in toks:
                spec["boosts"][t] = boost
    return spec


def _range_pred(col: str, lo, hi, lo_incl: bool, hi_incl: bool) -> Column:
    """Pushdown-able range predicate for a ``field:[a TO b]`` clause.

    Integral numeric bounds compare as int literals with NO cast on the
    column — a cast(col) would block parquet predicate pushdown, which
    is the whole point of a metadata range at scale. Fractional bounds
    (rare on metadata) pay the cast."""
    c = F.col(col)
    numeric = isinstance(lo, float) or isinstance(hi, float)
    integral = numeric and all(
        b is None or float(b).is_integer() for b in (lo, hi))
    if numeric and not integral:
        c = c.cast("double")

    def lit(b):
        return F.lit(int(b)) if integral else F.lit(b)

    pred = F.lit(True)
    if lo is not None:
        pred = pred & ((c >= lit(lo)) if lo_incl else (c > lit(lo)))
    if hi is not None:
        pred = pred & ((c <= lit(hi)) if hi_incl else (c < lit(hi)))
    return pred


def _apply_boosts(scores: DataFrame, boosts: dict) -> DataFrame:
    """Multiply each term's score by its query-time boost (no-op column
    rewrite when the query has no ``^`` clauses — the common path pays
    nothing). The when-chain is bounded by the query's own width."""
    if not boosts:
        return scores
    mul = F.lit(1.0)
    for t, b in sorted(boosts.items()):
        mul = F.when(F.col("term") == F.lit(t), F.lit(float(b))).otherwise(mul)
    return scores.withColumn("score", F.col("score") * mul)


def _phrase_starts(tk: Column, toks: Sequence[str]) -> Column:
    n = len(toks)
    seq = F.when(F.size(tk) >= n, F.sequence(F.lit(0), F.size(tk) - n)
                 ).otherwise(F.array().cast("array<int>"))
    return F.filter(seq, lambda i: reduce(
        lambda acc, j: acc & (F.get(tk, i + j) == F.lit(toks[j])),
        range(1, n), F.get(tk, i) == F.lit(toks[0])))


def search_query(corpus: DataFrame, q: str, k: int = 10,
                 text_col: str = "text", id_col: str = "doc_id",
                 mode: str = "ascii_code", max_expand: int = 1000,
                 dictionary: DataFrame | None = None) -> DataFrame:
    """Execute a query string: (id, score, rank), BM25 over positive terms.

    ``dictionary`` (a (term, df) relation, e.g. a materialized
    ``term_dictionary``) is only consulted when the query has wildcard or
    fuzzy clauses; pass a precomputed one to amortize it across queries.
    """
    spec = parse_query(q, mode)
    expansions: list[str] = []
    if spec["wildcards"] or spec["fuzzies"]:
        d = dictionary if dictionary is not None else term_dictionary(
            corpus, text_col, id_col, mode)
        for pat in spec["wildcards"]:
            expansions += (prefix_terms(d, pat[:-1], max_expand)
                           if re.match(r"^[^*?]+\*$", pat)
                           else wildcard_terms(d, pat, max_expand))
        for t, dist in spec["fuzzies"]:
            expansions += fuzzy_terms(d, t, dist, max_expand)
    positive = sorted({*spec["must"], *spec["should"], *expansions,
                       *(t for p in spec["phrases"] for t in p)})
    if not positive:
        raise ValueError("query has no positive terms to rank")

    def gate(tk):
        cond = F.lit(True)
        for t in spec["must"]:
            cond = cond & F.array_contains(tk, t)
        for t in spec["must_not"]:
            cond = cond & ~F.array_contains(tk, t)
        for p in spec["phrases"]:
            cond = cond & (F.size(_phrase_starts(tk, p)) > 0)
        for p in spec["not_phrases"]:
            cond = cond & (F.size(_phrase_starts(tk, p)) == 0)
        return cond

    from bertopic_spark.tokenizer import with_tokens

    cand = with_tokens(corpus, text_col, mode)
    for col, val in spec["fields"]:
        cand = cand.filter(F.col(col) == val)  # pushed to the parquet scan
    for col, lo, hi, li, hi_ in spec["ranges"]:
        cand = cand.filter(_range_pred(col, lo, hi, li, hi_))  # pushed too
    cand = (cand.filter(_bound(F.col("tokens"), gate))
            .select(id_col))

    x = doc_term_counts(corpus, text_col, [id_col], mode, with_len=True)
    x = x.withColumnRenamed("doc_len", "class_len").persist()
    stats = term_stats(x, [id_col], bm25_weighting=True)
    xq = x.filter(F.col("term").isin(positive))
    scores = _apply_boosts(
        ctfidf(xq, [id_col], bm25_weighting=True,
               stats=stats.filter(F.col("term").isin(positive))),
        spec["boosts"])
    hits = (scores.join(cand, id_col, "leftsemi")
            .groupBy(id_col).agg(F.sum("score").alias("score")))
    # global top-k via TakeOrderedAndProject (distributed partial limits),
    # then rank over the surviving ≤ k rows — never a partition-less window
    # on the full hit set
    top = hits.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    w = Window.partitionBy().orderBy(F.desc("score"), F.asc(id_col))
    out = (top.withColumn("rank", F.row_number().over(w))
           .select(id_col, "score", "rank")
           .localCheckpoint(eager=True))
    x.unpersist()
    return out


def search_query_indexed(spark, seg_path: str, pos_path: str, q: str,
                         dictionary: DataFrame | None = None,
                         meta: DataFrame | None = None, k: int = 10,
                         id_col: str = "doc_id", mode: str = "ascii_code",
                         max_expand: int = 1000) -> DataFrame:
    """The query language served ENTIRELY from persisted index trees — no
    corpus scan: gating clauses read the positional segments
    (bucket-pruned), scoring reads the compressed scoring segments
    (bucket-pruned + decoded in Arrow batches). Result-identical to
    ``search_query`` over the source corpus (tested).

    ``dictionary`` — the (term, df) relation materialized at build time —
    is required when the query has wildcard/fuzzy clauses; ``meta`` (id +
    metadata columns) is required for field:value clauses. Only the
    query's own terms are ever read: ≤ |clauses|+max_expand postings
    lists, each pruned to its term-hash bucket. Both trees carry their
    own format (bucket count in the manifest, block span and codec in the
    payload tag), so the caller passes none.
    """
    from bertopic_spark.index.positions import read_positions
    from bertopic_spark.index.segments import decode_blocks, pruned_block_scan
    from bertopic_spark.operators.fulltext import (boolean_match_postings,
                                                   phrase_match_postings)

    spec = parse_query(q, mode)
    expansions: list[str] = []
    if spec["wildcards"] or spec["fuzzies"]:
        if dictionary is None:
            raise ValueError("wildcard/fuzzy clauses need the index's "
                             "term dictionary")
        for pat in spec["wildcards"]:
            expansions += (prefix_terms(dictionary, pat[:-1], max_expand)
                           if re.match(r"^[^*?]+\*$", pat)
                           else wildcard_terms(dictionary, pat, max_expand))
        for t, dist in spec["fuzzies"]:
            expansions += fuzzy_terms(dictionary, t, dist, max_expand)
    positive = sorted({*spec["must"], *spec["should"], *expansions,
                       *(t for p in spec["phrases"] for t in p)})
    if not positive:
        raise ValueError("query has no positive terms to rank")
    if (spec["fields"] or spec["ranges"]) and meta is None:
        raise ValueError("field/range clauses need the meta relation")

    gate_terms = sorted({*positive, *spec["must_not"],
                         *(t for p in spec["not_phrases"] for t in p)})
    pos = read_positions(spark, pos_path, gate_terms)
    cand = boolean_match_postings(
        pos.select(id_col, "term"), must=spec["must"], should=positive,
        must_not=spec["must_not"], min_should=1,
        id_col=id_col).select(id_col)
    for p in spec["phrases"]:
        cand = cand.join(phrase_match_postings(pos, p, id_col)
                         .select(id_col), id_col, "leftsemi")
    for p in spec["not_phrases"]:
        cand = cand.join(phrase_match_postings(pos, p, id_col)
                         .select(id_col), id_col, "leftanti")
    for col, val in spec["fields"]:
        cand = cand.join(meta.filter(F.col(col) == val).select(id_col),
                         id_col, "leftsemi")
    for col, lo, hi, li, hi_ in spec["ranges"]:
        cand = cand.join(meta.filter(_range_pred(col, lo, hi, li, hi_))
                         .select(id_col), id_col, "leftsemi")

    scores = _apply_boosts(
        decode_blocks(pruned_block_scan(spark, seg_path, positive)),
        spec["boosts"])
    hits = (scores.join(cand, id_col, "leftsemi")
            .groupBy(id_col).agg(F.sum("score").alias("score")))
    top = hits.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    w = Window.partitionBy().orderBy(F.desc("score"), F.asc(id_col))
    return (top.withColumn("rank", F.row_number().over(w))
            .select(id_col, "score", "rank"))
