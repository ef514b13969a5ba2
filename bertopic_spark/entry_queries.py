"""Driver-contract query registry: Spark implementation + DuckDB oracle SQL.

Each entry maps a name → (spark_fn, oracle_sql | None). ``spark_fn(spark,
sf_dir)`` returns a DataFrame; the SQL runs on DuckDB views named after the
parquet tables (region nation customer supplier part orders lineitem events
documents embeddings). The driver compares row count + schema + an
order-insensitive value hash, with columns sorted by name — so BOTH sides
alias every column identically and round floats to 6dp (sums of doubles
differ in the last ulp across engines/partitionings; integer-derived values
are exact).

The corpus here is the driver's ``documents`` table (doc_id, text, lang,
source, n_chars); the class key is ``lang`` — the same operators run on the
(repo, path, commit, lang, content) source-code corpus in bench.py and the
index layer.
"""

from __future__ import annotations

from datetime import datetime
from typing import Callable, Dict, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bertopic_spark.operators.bm25 import bm25_topk, doc_scores, queries_df, query_terms
from bertopic_spark.operators.ctfidf import ctfidf, term_stats, top_k_terms
from bertopic_spark.operators.postings import class_term_counts, doc_term_counts
from bertopic_spark.tokenizer import duckdb_stem_s_sql, duckdb_tokens_sql, tokenize_one

MODE = "ascii_code"

# Fixed retrieval query set over the documents-table vocabulary.
DRIVER_QUERIES = {
    0: "table scan",
    1: "hash join order",
    2: "the slow query",
    3: "spark filter window",
    4: "customer batch value",
    5: "merge sort key",
    6: "group data row",
    7: "small part line",
}

# ---------------------------------------------------------------------------
# Shared SQL fragments (DuckDB). Mirrors operators/{postings,ctfidf,bm25}.py.
# ---------------------------------------------------------------------------

_TOKS = f"""
toks AS (
  SELECT doc_id, lang, source,
         unnest({duckdb_tokens_sql('text', MODE)}) AS term
  FROM documents
)"""

_XDOC = """
xdoc AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
)"""

_XCLS = """
xcls AS (
  SELECT lang, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY lang, term
)"""


def _stats_sql(x: str, keys: str, bm25: bool) -> str:
    """df/idf CTEs over count relation ``x`` grouped per-``keys`` rows."""
    idf = (
        "ln(greatest(1.0 + (a - df + 0.5) / (df + 0.5), 1e-10))"
        if bm25
        else "ln(a / df + 1.0)"
    )
    return f"""
clen AS (SELECT {keys}, CAST(sum(tf) AS BIGINT) AS class_len FROM {x} GROUP BY {keys}),
avgn AS (SELECT CAST(floor(avg(class_len)) AS BIGINT) AS a FROM clen),
dft AS (SELECT term, CAST(sum(tf) AS BIGINT) AS df FROM {x} GROUP BY term),
idf AS (SELECT term, df, {idf} AS idf FROM dft CROSS JOIN avgn)"""


def _scores_sql(x: str, keys: str, bm25: bool, sqrt: bool) -> str:
    tfn = "sqrt(x.tf / clen.class_len)" if sqrt else "(x.tf / clen.class_len)"
    return f"""
{_stats_sql(x, keys, bm25)},
scores AS (
  SELECT {', '.join('x.' + k for k in keys.split(', '))}, x.term,
         {tfn} * idf.idf AS score
  FROM {x} x JOIN clen USING ({keys}) JOIN idf USING (term)
)"""


def _query_term_values() -> str:
    pairs = []
    for qid, text in sorted(DRIVER_QUERIES.items()):
        for t in sorted(set(tokenize_one(text, MODE))):
            pairs.append(f"({qid}, '{t}')")
    return ", ".join(pairs)


# ---------------------------------------------------------------------------
# Spark-side helpers
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _doc_x(spark, sf_dir) -> DataFrame:
    return doc_term_counts(_docs(spark, sf_dir), "text", ["doc_id"], MODE)


def _cls_x(spark, sf_dir) -> DataFrame:
    return class_term_counts(
        doc_term_counts(_docs(spark, sf_dir), "text", ["lang", "doc_id"], MODE), ["lang"]
    )


def _r6(c):
    return F.round(c, 6)


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------

def q_tokenize_doc_counts(spark, sf_dir):
    """T1: tokenize + per-doc counts (SURVEY §2.3)."""
    return _doc_x(spark, sf_dir).select("doc_id", "term", "tf")


SQL_TOKENIZE = f"WITH {_TOKS}, {_XDOC} SELECT doc_id, term, tf FROM xdoc"


def q_class_postings(spark, sf_dir):
    """A1: class×term counts — the X matrix (SURVEY §2.4)."""
    return _cls_x(spark, sf_dir).select("lang", "term", "tf")


SQL_CLASS_POSTINGS = f"WITH {_TOKS}, {_XCLS} SELECT lang, term, tf FROM xcls"


def _q_term_stats(bm25: bool):
    def fn(spark, sf_dir):
        x = _cls_x(spark, sf_dir)
        s = term_stats(x, ["lang"], bm25_weighting=bm25)
        return s.select("term", "df", _r6(F.col("idf")).alias("idf"))

    return fn


def _sql_term_stats(bm25: bool) -> str:
    return (
        f"WITH {_TOKS}, {_XCLS}, {_stats_sql('xcls', 'lang', bm25)} "
        "SELECT term, df, round(idf, 6) AS idf FROM idf"
    )


def _q_ctfidf_topk(bm25: bool, sqrt: bool, k: int = 10):
    def fn(spark, sf_dir):
        x = _cls_x(spark, sf_dir)
        s = ctfidf(x, ["lang"], bm25_weighting=bm25, reduce_frequent_words=sqrt)
        t = top_k_terms(s, ["lang"], k)
        return t.select(
            "lang", "term", _r6(F.col("score")).alias("score"),
            F.col("rank").cast("long").alias("rn"),
        )

    return fn


def _sql_ctfidf_topk(bm25: bool, sqrt: bool, k: int = 10) -> str:
    return f"""WITH {_TOKS}, {_XCLS}, {_scores_sql('xcls', 'lang', bm25, sqrt)},
ranked AS (
  SELECT lang, term, score,
         row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rn
  FROM scores)
SELECT lang, term, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {k}"""


def q_bm25_doc_topk(spark, sf_dir):
    """J4/W1: inverted-index BM25 retrieval, top-10 per query (SURVEY §3.2)."""
    from bertopic_spark.operators.bm25 import bm25_topk_adhoc

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = bm25_topk_adhoc(_docs(spark, sf_dir), qt, k=10, text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_BM25_DOC_TOPK = f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM q JOIN scores s USING (term) GROUP BY q.query_id, s.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_has_child_topk(spark, sf_dir):
    """ES has_child / Lucene ToParentBlockJoin: parents (sources) ranked
    by their best-matching child's BM25 score (score_mode=max,
    min_children=2), then inner_hits — the top-3 children under each
    ranked parent. Children fold into ≤ |queries|·|parents| rows before
    any window; the inner-hits pass prunes child hits map-side against
    the broadcast top-parent set."""
    from bertopic_spark.operators.bm25 import (block_join_inner_hits,
                                               doc_scores, has_child_topk)

    d = _docs(spark, sf_dir)
    handles: list = []
    scores = doc_scores(d, text_col="text", id_col="doc_id", mode=MODE,
                        _persisted_out=handles)
    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    parents = d.select("doc_id", "source")
    tp = has_child_topk(scores, qt, parents, "source", k=5,
                        score_mode="max", min_children=2)
    ih = block_join_inner_hits(scores, qt, parents, "source", tp, m=3)
    return (ih.join(F.broadcast(tp.withColumnRenamed("score", "_ps")
                                .withColumnRenamed("rank", "parent_rank")),
                    ["query_id", "source"])
            .select("query_id", "source",
                    _r6(F.col("_ps")).alias("parent_score"),
                    F.col("n_children").cast("long").alias("n_children"),
                    F.col("parent_rank").cast("long").alias("parent_rank"),
                    "doc_id", _r6(F.col("score")).alias("child_score"),
                    F.col("child_rank").cast("long").alias("child_rank")))


SQL_HAS_CHILD = f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM q JOIN scores s USING (term) GROUP BY q.query_id, s.doc_id),
ch AS (
  SELECT h.query_id, d.source, h.doc_id, h.score
  FROM hits h JOIN documents d USING (doc_id)),
folded AS (
  SELECT query_id, source, max(score) AS parent_score,
         CAST(count(*) AS BIGINT) AS n_children
  FROM ch GROUP BY query_id, source HAVING count(*) >= 2),
tp AS (
  SELECT query_id, source, parent_score, n_children,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY parent_score DESC, source ASC)
         AS parent_rank
  FROM folded QUALIFY parent_rank <= 5),
ih AS (
  SELECT c.query_id, c.source, c.doc_id, c.score,
         row_number() OVER (PARTITION BY c.query_id, c.source
                            ORDER BY c.score DESC, c.doc_id ASC)
         AS child_rank
  FROM ch c JOIN tp USING (query_id, source) QUALIFY child_rank <= 3)
SELECT CAST(i.query_id AS BIGINT) AS query_id, i.source,
       round(t.parent_score, 6) AS parent_score, t.n_children,
       CAST(t.parent_rank AS BIGINT) AS parent_rank, i.doc_id,
       round(i.score, 6) AS child_score,
       CAST(i.child_rank AS BIGINT) AS child_rank
FROM ih i JOIN tp t USING (query_id, source)"""


BLM_TRAIN_LANG = "en"
BLM_ALPHA, BLM_KAPPA = 0.5, 0.4


def q_bigram_lm_perplexity(spark, sf_dir):
    """Stupid-backoff bigram LM quality signal: LM trained on the English
    slice only, ALL docs scored — non-English docs exercise the backoff
    and OOV paths (κ·p_uni with Lidstone unigram mass). Cross-entropy only
    in the gate: exp() amplifies float jitter past 6dp for OOV-heavy docs."""
    from bertopic_spark.operators.textstats import bigram_lm_perplexity

    docs = _docs(spark, sf_dir)
    out = bigram_lm_perplexity(
        docs, "text", "doc_id", MODE, alpha=BLM_ALPHA, kappa=BLM_KAPPA,
        train_df=docs.filter(F.col("lang") == BLM_TRAIN_LANG))
    return out.select("doc_id", "n_tokens",
                      _r6(F.col("cross_entropy")).alias("cross_entropy"))


def _sql_bigram_lm_perplexity() -> str:
    return f"""WITH dtoks AS MATERIALIZED (
  SELECT doc_id, lang, {duckdb_tokens_sql('text', MODE)} AS a FROM documents),
nz AS MATERIALIZED (SELECT doc_id, lang, a, len(a) AS n FROM dtoks WHERE len(a) >= 1),
uni AS MATERIALIZED (
  SELECT t AS term, CAST(count(*) AS BIGINT) AS ctf
  FROM (SELECT unnest(a) AS t FROM nz WHERE lang = '{BLM_TRAIN_LANG}')
  GROUP BY 1),
tot AS MATERIALIZED (
  SELECT CAST(sum(ctf) AS BIGINT) AS n_total, CAST(count(*) AS BIGINT) AS v
  FROM uni),
bg AS MATERIALIZED (
  SELECT z[1] AS w1, z[2] AS w2, CAST(count(*) AS BIGINT) AS cbg
  FROM (SELECT unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
        FROM nz WHERE lang = '{BLM_TRAIN_LANG}' AND n >= 2)
  GROUP BY 1, 2),
docbg AS MATERIALIZED (
  SELECT doc_id, z[1] AS w1, z[2] AS w2, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
        FROM nz WHERE n >= 2)
  GROUP BY 1, 2, 3),
lp1 AS (
  SELECT f.doc_id, f.n,
         ln((coalesce(u.ctf, 0) + {BLM_ALPHA}) / (t.n_total + {BLM_ALPHA} * t.v)) AS lp
  FROM (SELECT doc_id, a[1] AS t1, n FROM nz) f
  LEFT JOIN uni u ON u.term = f.t1 CROSS JOIN tot t),
pair_lp AS (
  SELECT d.doc_id,
         sum(d.tf * CASE WHEN b.cbg IS NOT NULL
               THEN ln(b.cbg / CAST(u1.ctf AS DOUBLE))
               ELSE ln({BLM_KAPPA} * (coalesce(u2.ctf, 0) + {BLM_ALPHA})
                       / (t.n_total + {BLM_ALPHA} * t.v)) END) AS lp
  FROM docbg d
  LEFT JOIN bg b ON b.w1 = d.w1 AND b.w2 = d.w2
  LEFT JOIN uni u1 ON u1.term = d.w1
  LEFT JOIN uni u2 ON u2.term = d.w2
  CROSS JOIN tot t
  GROUP BY d.doc_id)
SELECT l.doc_id, CAST(l.n AS BIGINT) AS n_tokens,
       round(-(l.lp + coalesce(p.lp, 0)) / l.n, 6) AS cross_entropy
FROM lp1 l LEFT JOIN pair_lp p USING (doc_id)"""


BPE_MERGES = 6


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE training: the first 6 learned merges (step, left,
    right, freq) over the documents vocabulary — greedy pair-merge loop,
    deterministic tie-break (freq desc, left, right)."""
    from bertopic_spark.operators.bpe import bpe_train

    return bpe_train(_docs(spark, sf_dir), "text", mode=MODE,
                     n_merges=BPE_MERGES)


def q_bpe_subword_counts(spark, sf_dir):
    """Per-doc token-budget accounting under the learned BPE vocabulary:
    (doc_id, n_tokens, n_subwords) after 6 merges."""
    from bertopic_spark.operators.bpe import bpe_doc_subword_counts, bpe_train

    docs = _docs(spark, sf_dir)
    merges = [(r["left"], r["right"])
              for r in bpe_train(docs, "text", mode=MODE,
                                 n_merges=BPE_MERGES).collect()]
    return bpe_doc_subword_counts(docs, merges, "text", mode=MODE)


def _sql_bpe_ctes(n_merges: int) -> str:
    """Unrolled BPE merge chain: w{i}(word, cnt, s) after i merges,
    b{i}(l, r, c) the i-th merge decision. Mirrors operators/bpe.py —
    same doubled-space greedy replace, same tie-break."""
    parts = [f"""btoks AS MATERIALIZED (
  SELECT unnest({duckdb_tokens_sql('text', MODE)}) AS word FROM documents),
bwf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM btoks GROUP BY word),
w0 AS MATERIALIZED (SELECT word, cnt,
              trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>' AS s
       FROM bwf)"""]
    for i in range(n_merges):
        parts.append(f"""p{i} AS MATERIALIZED (
  SELECT z[1] AS l, z[2] AS r, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT cnt, unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
        FROM (SELECT cnt, string_split(s, ' ') AS a FROM w{i})
        WHERE len(a) >= 2)
  GROUP BY 1, 2),
b{i} AS MATERIALIZED (SELECT l, r, c FROM p{i} ORDER BY c DESC, l ASC, r ASC LIMIT 1),
w{i + 1} AS MATERIALIZED (
  SELECT word, cnt, trim(replace(replace(' ' || replace(s, ' ', '  ') || ' ',
    ' ' || (SELECT l FROM b{i}) || '  ' || (SELECT r FROM b{i}) || ' ',
    ' ' || (SELECT l FROM b{i}) || (SELECT r FROM b{i}) || ' '), '  ', ' ')) AS s
  FROM w{i})""")
    return ",\n".join(parts)


def _sql_bpe_merges(n_merges: int = BPE_MERGES) -> str:
    steps = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS step, l AS \"left\", r AS \"right\", "
        f"c AS freq FROM b{i}"
        for i in range(n_merges))
    return f"WITH {_sql_bpe_ctes(n_merges)}\n{steps}"


def _sql_bpe_subword_counts(n_merges: int = BPE_MERGES) -> str:
    return f"""WITH {_sql_bpe_ctes(n_merges)},
seg AS (SELECT word, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_subwords
        FROM w{n_merges}),
dtoks AS (
  SELECT doc_id, unnest({duckdb_tokens_sql('text', MODE)}) AS word
  FROM documents)
SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(seg.n_subwords) AS BIGINT) AS n_subwords
FROM dtoks d JOIN seg USING (word)
GROUP BY d.doc_id"""


def q_dfs_shard_topk(spark, sf_dir):
    """ES dfs_query_then_fetch scatter-gather: 8 hash shards, per-shard
    local top-10 with globally-computed (DFS-phase) statistics, merged to
    the global top-10 — rank-identical to the exhaustive path, so the
    oracle IS the exhaustive BM25 SQL."""
    from bertopic_spark.operators.bm25 import dfs_shard_topk, doc_scores

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    sc = doc_scores(_docs(spark, sf_dir), text_col="text", mode=MODE)
    t = dfs_shard_topk(sc, qt, k=10, n_shards=8)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


def q_impact_topk(spark, sf_dir):
    """Impact-quantized serving (Anh-Moffat / score-at-a-time shape):
    8-bit offset-quantized posting impacts, midpoint-reconstruction top-k
    with a certified per-result error bound."""
    from bertopic_spark.operators.bm25 import (doc_scores, impact_topk,
                                               quantize_impacts)

    s = doc_scores(_docs(spark, sf_dir), "text", "doc_id", MODE)
    imp, meta = quantize_impacts(s, bits=8)
    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = impact_topk(imp, meta, qt, k=10)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        _r6(F.col("err_bound")).alias("err_bound"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_IMPACT_TOPK = f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
meta AS (SELECT round(min(score), 6) AS mn, round(max(score), 6) AS mx
         FROM scores),
mi AS (SELECT mn, mx, CAST(round(mn * 1e6) AS BIGINT) AS lo,
              CAST(round(mx * 1e6) AS BIGINT) AS hi FROM meta),
imp AS (
  SELECT s.doc_id, s.term,
         CASE WHEN m.hi = m.lo THEN 0
              ELSE least(255, ((CAST(round(s.score * 1e6) AS BIGINT) - m.lo)
                               * 256) // (m.hi - m.lo))
         END AS q
  FROM scores s CROSS JOIN mi m),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, i.doc_id,
         sum(m.mn + (i.q + 0.5) * (m.mx - m.mn) / 256.0) AS score,
         count(*) * (max(m.mx) - max(m.mn)) / 512.0 AS err_bound
  FROM q JOIN imp i USING (term) CROSS JOIN mi m
  GROUP BY q.query_id, i.doc_id),
ranked AS (
  SELECT query_id, doc_id, score, err_bound,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       round(err_bound, 6) AS err_bound, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_min_should_topk(spark, sf_dir):
    """Lucene minimum_should_match on a scored disjunction
    (operators/bm25.bm25_topk_minshould): docs must match ≥ ceil(0.6 × the
    query's own distinct-term width); the matched-count rides the scoring
    agg's existing shuffle and the filter cuts candidates before the
    top-k window."""
    from bertopic_spark.operators.bm25 import bm25_topk_minshould, doc_scores

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    handles: list = []
    scores = doc_scores(_docs(spark, sf_dir), text_col="text",
                        id_col="doc_id", mode=MODE, _persisted_out=handles)
    t = bm25_topk_minshould(scores, qt, k=10, min_should=0.6)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        "n_matched", F.col("rank").cast("long").alias("rn"),
    )


SQL_MIN_SHOULD = f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
qn AS (SELECT query_id, CAST(ceil(0.6 * count(DISTINCT term)) AS BIGINT) AS need
       FROM q GROUP BY query_id),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score,
         CAST(count(DISTINCT s.term) AS BIGINT) AS n_matched
  FROM q JOIN scores s USING (term) GROUP BY q.query_id, s.doc_id),
ranked AS (
  SELECT h.query_id, h.doc_id, h.score, h.n_matched,
         row_number() OVER (PARTITION BY h.query_id
                            ORDER BY h.score DESC, h.doc_id ASC) AS rn
  FROM hits h JOIN qn USING (query_id) WHERE h.n_matched >= qn.need)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       n_matched, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def _plural_docs(spark, sf_dir):
    """Deterministically pluralized corpus, mangled identically in BOTH
    engines (the code_tokenize_counts pattern): a term gains a trailing
    's' in documents where (doc_id + len(term)) is even, so singular and
    plural surface forms of the same word coexist across documents —
    the driver corpus itself has a fixed 30-term singular vocabulary the
    stemmer would fold vacuously."""
    from bertopic_spark.tokenizer import tokens_expr

    plural = F.array_join(
        F.transform(
            tokens_expr(F.col("text"), MODE),
            lambda t: F.when(
                ((F.col("doc_id") + F.length(t)) % 2) == 0,
                F.concat(t, F.lit("s"))).otherwise(t)),
        " ")
    return _docs(spark, sf_dir).select("doc_id", plural.alias("text"))


_PDOCS = f"""
pdocs AS (
  SELECT doc_id, array_to_string(list_transform(
           {duckdb_tokens_sql('text', MODE)},
           t -> CASE WHEN (doc_id + length(t)) % 2 = 0 THEN t || 's'
                     ELSE t END), ' ') AS text
  FROM documents
)"""


def q_stemmed_vocab(spark, sf_dir):
    """S-stemmer analyzer stage (tokenizer.stem_s_col — Harman 1991 /
    Lucene EnglishMinimalStemFilter): vocabulary folded by stem, keeping
    only stems that actually merge ≥ 2 surface variants; df = docs
    containing ANY variant. One tokenize pass; the per-doc distinct is an
    array op inside the row, the two count-distincts run over the already
    doc-deduped (doc, term) relation."""
    from bertopic_spark.tokenizer import stem_s_col, with_tokens

    toks = with_tokens(_plural_docs(spark, sf_dir), "text", MODE)
    dt = toks.select(
        "doc_id", F.explode(F.array_distinct("tokens")).alias("term"))
    st = dt.select("doc_id", "term", stem_s_col(F.col("term")).alias("stem"))
    return (st.groupBy("stem")
            .agg(F.count_distinct("doc_id").cast("long").alias("df"),
                 F.count_distinct("term").cast("long").alias("n_variants"))
            .filter(F.col("n_variants") >= 2))


SQL_STEMMED_VOCAB = f"""WITH {_PDOCS},
toks AS (SELECT doc_id, unnest({duckdb_tokens_sql('text', MODE)}) AS term
         FROM pdocs),
dt AS (SELECT DISTINCT doc_id, term FROM toks),
st AS (SELECT doc_id, term, {duckdb_stem_s_sql('term')} AS stem FROM dt)
SELECT stem, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(count(DISTINCT term) AS BIGINT) AS n_variants
FROM st GROUP BY stem HAVING count(DISTINCT term) >= 2"""


def q_synonym_bm25_topk(spark, sf_dir):
    """Index-time synonym folding with SynonymQuery blended scoring
    (operators/fulltext.bm25_topk_synonyms): corpus-derived stem groups
    fold both the postings and the query terms; df/idf recomputed on the
    folded vocabulary, so variant-split terms stop underweighting."""
    from bertopic_spark.operators.fulltext import bm25_topk_synonyms

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    handles: list = []
    t = bm25_topk_synonyms(_plural_docs(spark, sf_dir), qt, k=10,
                           text_col="text", mode=MODE,
                           _persisted_out=handles)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_SYNONYM_BM25 = f"""WITH {_PDOCS},
toks AS (SELECT doc_id, unnest({duckdb_tokens_sql('text', MODE)}) AS term
         FROM pdocs), {_XDOC},
dict AS (SELECT DISTINCT term FROM xdoc),
sk AS (SELECT term, {duckdb_stem_s_sql('term')} AS syn_key FROM dict),
grp AS (SELECT syn_key FROM sk GROUP BY syn_key HAVING count(*) >= 2),
map AS (SELECT sk.term, sk.syn_key FROM sk JOIN grp USING (syn_key)),
xf AS (SELECT x.doc_id, coalesce(map.syn_key, x.term) AS term,
              CAST(sum(x.tf) AS BIGINT) AS tf
       FROM xdoc x LEFT JOIN map ON map.term = x.term GROUP BY 1, 2),
{_scores_sql('xf', 'doc_id', True, False).lstrip()},
q(query_id, term) AS (VALUES {_query_term_values()}),
qf AS (SELECT DISTINCT q.query_id, coalesce(map.syn_key, q.term) AS term
       FROM q LEFT JOIN map ON map.term = q.term),
hits AS (
  SELECT qf.query_id, s.doc_id, sum(s.score) AS score
  FROM qf JOIN scores s USING (term) GROUP BY qf.query_id, s.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_significant_terms(spark, sf_dir):
    """ES significant_terms with the JLH heuristic
    (operators/fulltext.significant_terms): terms anomalously frequent in
    the lang='en' foreground vs the whole corpus; foreground df rides the
    background df's shuffle via conditional aggregation."""
    from bertopic_spark.operators.fulltext import significant_terms
    from bertopic_spark.tokenizer import with_tokens

    toks = with_tokens(_docs(spark, sf_dir), "text", MODE)
    dt = toks.select(
        "doc_id", (F.col("lang") == "en").alias("fg"),
        F.explode(F.array_distinct("tokens")).alias("term"))
    t = significant_terms(dt, k=15)
    return t.select(
        "term", "df_fg", "df_all", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_SIGNIFICANT_TERMS = f"""WITH {_TOKS},
dt AS (SELECT DISTINCT doc_id, lang = 'en' AS fg, term FROM toks),
tot AS (SELECT count(DISTINCT doc_id) AS n_all,
               count(DISTINCT CASE WHEN fg THEN doc_id END) AS n_fg FROM dt),
per AS (SELECT term,
               CAST(count(DISTINCT CASE WHEN fg THEN doc_id END) AS BIGINT) AS df_fg,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df_all
        FROM dt GROUP BY term),
sc AS (SELECT term, df_fg, df_all,
              ((df_fg / n_fg) - (df_all / n_all))
              * ((df_fg / n_fg) / (df_all / n_all)) AS score
       FROM per CROSS JOIN tot
       WHERE df_fg > 0 AND (df_fg / n_fg) > (df_all / n_all)),
ranked AS (SELECT term, df_fg, df_all, score,
                  row_number() OVER (ORDER BY score DESC, term ASC) AS rn
           FROM sc)
SELECT term, df_fg, df_all, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 15"""


def q_sig_terms_percentage(spark, sf_dir):
    """significant_terms with ES's percentage heuristic (operators/
    fulltext.significant_terms scoring='percentage'): score = df_fg /
    df_all — rare-but-exclusive terms, where JLH favors
    common-and-lifted; same single conditional-agg pass."""
    from bertopic_spark.operators.fulltext import significant_terms
    from bertopic_spark.tokenizer import with_tokens

    toks = with_tokens(_docs(spark, sf_dir), "text", MODE)
    dt = toks.select(
        "doc_id", (F.col("lang") == "en").alias("fg"),
        F.explode(F.array_distinct("tokens")).alias("term"))
    t = significant_terms(dt, k=15, scoring="percentage")
    return t.select(
        "term", "df_fg", "df_all", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"))


SQL_SIG_PERCENTAGE = f"""WITH {_TOKS},
dt AS (SELECT DISTINCT doc_id, lang = 'en' AS fg, term FROM toks),
per AS (SELECT term,
               CAST(count(DISTINCT CASE WHEN fg THEN doc_id END) AS BIGINT) AS df_fg,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df_all
        FROM dt GROUP BY term),
sc AS (SELECT term, df_fg, df_all, df_fg * 1.0 / df_all AS score
       FROM per WHERE df_fg > 0),
ranked AS (SELECT term, df_fg, df_all, score,
                  row_number() OVER (ORDER BY score DESC, term ASC) AS rn
           FROM sc)
SELECT term, df_fg, df_all, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 15"""


def q_bucket_stats_hourly(spark, sf_dir):
    """ES sibling pipeline aggregations (operators/rollup.
    sibling_bucket_stats — avg/min/max/sum/stats_bucket in one pass):
    per event_type, the stats OF the hourly doc-count buckets; a
    second-level agg over the bucket relation, never the raw events."""
    from bertopic_spark.operators.rollup import sibling_bucket_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = (ev.groupBy("event_type",
                    F.date_trunc("hour", F.col("ts")).alias("h"))
         .agg(F.count(F.lit(1)).cast("long").alias("n")))
    t = sibling_bucket_stats(b, "n", keys=("event_type",))
    return t.select("event_type", "n_buckets", _r6(F.col("avg_b")).alias("avg_b"),
                    F.col("min_b").cast("long").alias("min_b"),
                    F.col("max_b").cast("long").alias("max_b"),
                    F.col("sum_b").cast("long").alias("sum_b"))


SQL_BUCKET_STATS = """WITH
b AS (SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts))
SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
       round(avg(n), 6) AS avg_b, CAST(min(n) AS BIGINT) AS min_b,
       CAST(max(n) AS BIGINT) AS max_b, CAST(sum(n) AS BIGINT) AS sum_b
FROM b GROUP BY event_type"""


_MTIME_SPARK = "date_sub(date'2026-01-01', cast(doc_id % 365 as int))"
_MTIME_DUCK = "(DATE '2026-01-01' - CAST(doc_id % 365 AS INTEGER))"
_DECAY_NOW = "2026-03-01"


def q_decay_topk(spark, sf_dir):
    """ES function_score gauss decay (operators/bm25.decay_topk):
    relevance × recency with multiplier 0.5^((age/scale)^2); the decay
    multiplies BEFORE the top-k cut. Deterministic doc mtime fixture
    derived from doc_id identically in both engines."""
    from bertopic_spark.operators.bm25 import decay_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    handles: list = []
    scores = doc_scores(_docs(spark, sf_dir), text_col="text",
                        id_col="doc_id", mode=MODE, _persisted_out=handles)
    times = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_MTIME_SPARK).alias("mtime"))
    t = decay_topk(scores, qt, times, now=_DECAY_NOW, scale_days=30, k=10)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        _r6(F.col("decayed")).alias("decayed"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_DECAY_TOPK = f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
times AS (SELECT doc_id, {_MTIME_DUCK} AS mtime FROM documents),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM q JOIN scores s USING (term) GROUP BY 1, 2),
dec AS (
  SELECT h.query_id, h.doc_id, h.score,
         h.score * pow(0.5, pow((DATE '{_DECAY_NOW}' - t.mtime) / 30.0, 2))
           AS decayed
  FROM hits h JOIN times t USING (doc_id)),
ranked AS (
  SELECT query_id, doc_id, score, decayed,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY decayed DESC, doc_id ASC) AS rn
  FROM dec)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       round(decayed, 6) AS decayed, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_tiered_bm25_topk(spark, sf_dir):
    """Tiered champion-list serving (operators/bm25.tiered_bm25_topk):
    tier-1 answers only when the per-query bound certificate PROVES
    rank-identity; uncertified queries escalate to the full index — so
    the oracle is the exhaustive SQL (two physical strategies, one
    truth, like search_query_indexed)."""
    from bertopic_spark.operators.bm25 import doc_scores, tiered_bm25_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    d = _docs(spark, sf_dir)
    handles: list = []
    scores = doc_scores(d, text_col="text", id_col="doc_id", mode=MODE,
                        _persisted_out=handles)
    t = tiered_bm25_topk(scores, qt, k=10, m=64)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


def q_explain_topk(spark, sf_dir):
    """Lucene-explain analog (operators/bm25.explain_topk): per-term score
    breakdown of every top-k hit; Σ contribution over a doc = its score."""
    from bertopic_spark.operators.bm25 import doc_scores, explain_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    d = _docs(spark, sf_dir)
    handles: list = []
    scores = doc_scores(d, text_col="text", id_col="doc_id", mode=MODE,
                        _persisted_out=handles)
    t = explain_topk(scores, qt, k=10)
    return t.select(
        "query_id", "doc_id", "term", "tf",
        _r6(F.col("contribution")).alias("contribution"),
        _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_EXPLAIN_TOPK = f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS doc_score
  FROM q JOIN scores s USING (term) GROUP BY q.query_id, s.doc_id),
ranked AS (
  SELECT query_id, doc_id, doc_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY doc_score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(r.query_id AS BIGINT) AS query_id, r.doc_id, s.term, x.tf,
       round(s.score, 6) AS contribution,
       round(r.doc_score, 6) AS score, CAST(r.rn AS BIGINT) AS rn
FROM ranked r
JOIN q ON q.query_id = r.query_id
JOIN scores s ON s.doc_id = r.doc_id AND s.term = q.term
JOIN xdoc x ON x.doc_id = r.doc_id AND x.term = q.term
WHERE r.rn <= 10"""


def q_percolate(spark, sf_dir):
    """Reverse search (operators/fulltext.percolate): every document
    matched against the standing query registry at 50% coverage — the
    alerting/routing primitive of an ingest pipeline; registry broadcast,
    matching map-side."""
    from bertopic_spark.operators.fulltext import percolate

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    return percolate(_docs(spark, sf_dir), qt, text_col="text",
                     min_should_match=0.5, mode=MODE)


SQL_PERCOLATE = f"""WITH {_TOKS},
dt AS (SELECT DISTINCT doc_id, term FROM toks),
q(query_id, term) AS (VALUES {_query_term_values()}),
qn AS (SELECT query_id, CAST(count(DISTINCT term) AS BIGINT) AS n_q
       FROM q GROUP BY query_id),
hits AS (
  SELECT dt.doc_id, q.query_id, CAST(count(*) AS BIGINT) AS n_matched
  FROM dt JOIN q USING (term) GROUP BY dt.doc_id, q.query_id)
SELECT h.doc_id, CAST(h.query_id AS BIGINT) AS query_id, h.n_matched,
       qn.n_q, round(h.n_matched * 1.0 / qn.n_q, 6) AS coverage
FROM hits h JOIN qn USING (query_id)
WHERE h.n_matched >= CAST(ceil(0.5 * qn.n_q) AS BIGINT)"""


def q_code_tokenize_counts(spark, sf_dir):
    """Code-aware analyzer gate (tokenizer.tokens_expr mode=code_aware —
    the north star's camelCase/snake_case splitting): the text is
    deterministically mangled into snake_case runs (spaces → '_') inside
    BOTH engines, so the value hash proves the splitting itself —
    ascii_code would keep each run as ONE token, code_aware must split
    it back into the original words."""
    from bertopic_spark.operators.postings import doc_term_counts

    d = _docs(spark, sf_dir).select(
        "doc_id", F.replace(F.col("text"), F.lit(" "), F.lit("_"))
        .alias("code_text"))
    x = doc_term_counts(d, "code_text", ["doc_id"], "code_aware")
    return (x.groupBy("term")
            .agg(F.sum("tf").cast("long").alias("tf"),
                 F.count(F.lit(1)).cast("long").alias("df"))
            .filter(F.col("df") >= 50))


def _sql_code_tokenize() -> str:
    mangled = "replace(text, ' ', '_')"
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql(mangled, 'code_aware')} AS ts
       FROM documents),
dt AS (SELECT doc_id, unnest(ts) AS term FROM tk),
x AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM dt GROUP BY doc_id, term)
SELECT term, CAST(sum(tf) AS BIGINT) AS tf, CAST(count(*) AS BIGINT) AS df
FROM x GROUP BY term HAVING count(*) >= 50"""


def q_search_after_page2(spark, sf_dir):
    """Keyset pagination (operators/bm25.search_after): page 2 fetched
    via the cursor from page 1's last hit; the oracle computes ranks
    11-20 of the SAME global ordering directly — keyset and offset
    formulations must agree row-for-row."""
    from bertopic_spark.operators.bm25 import doc_scores, search_after

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    d = _docs(spark, sf_dir)
    handles: list = []
    scores = doc_scores(d, text_col="text", id_col="doc_id", mode=MODE,
                        _persisted_out=handles)
    page1 = bm25_topk(scores, qt, k=10)
    cursors = (page1.filter(F.col("rank") == 10)
               .select("query_id", F.col("score").alias("after_score"),
                       F.col("doc_id").alias("after_doc"),
                       F.col("rank").alias("after_rank")))
    t = search_after(scores, qt, cursors, k=10)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_SEARCH_AFTER = f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM q JOIN scores s USING (term) GROUP BY q.query_id, s.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn BETWEEN 11 AND 20"""


OKAPI_K1, OKAPI_B = 1.2, 0.75


def q_okapi_bm25_topk(spark, sf_dir):
    """Classical Okapi BM25 (operators/bm25.okapi_bm25_topk): Robertson
    tf saturation + explicit length normalization (k1=1.2, b=0.75),
    Lucene's non-negative idf — distinct from the BERTopic-parity
    class-based weighting the other bm25 gates cover."""
    from bertopic_spark.operators.bm25 import okapi_bm25_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = okapi_bm25_topk(_docs(spark, sf_dir), qt, k=10, k1=OKAPI_K1,
                        b=OKAPI_B, text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_OKAPI_BM25 = f"""WITH {_TOKS}, {_XDOC},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(ln(1.0 + (ns.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * dl.dl / ns.avgdl))) AS score
  FROM q JOIN xdoc x USING (term) JOIN dfs USING (term)
       JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN nstats ns
  GROUP BY q.query_id, x.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


LM_MU = 2000.0


def q_lm_topk(spark, sf_dir):
    """Query-likelihood retrieval, Dirichlet smoothing µ=2000 (operators/
    bm25.lm_topk): the canonical second ranking model over the same
    postings — matched-term ln-sum + doc-length prior, candidates pruned
    to docs matching ≥1 query term."""
    from bertopic_spark.operators.bm25 import lm_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = lm_topk(_docs(spark, sf_dir), qt, k=10, mu=LM_MU,
                text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_LM_TOPK = f"""WITH {_TOKS}, {_XDOC},
cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM xdoc GROUP BY term),
tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM xdoc),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
q(query_id, term) AS (VALUES {_query_term_values()}),
qv AS (SELECT q.query_id, q.term FROM q JOIN cf USING (term)),
nq AS (SELECT query_id, count(*) AS n_q FROM qv GROUP BY query_id),
hits AS (
  SELECT qv.query_id, x.doc_id,
         sum(ln(1.0 + x.tf * tot.total / ({LM_MU} * cf.cf))) AS ql
  FROM qv JOIN xdoc x USING (term) JOIN cf USING (term) CROSS JOIN tot
  GROUP BY qv.query_id, x.doc_id),
scored AS (
  SELECT h.query_id, h.doc_id,
         h.ql + nq.n_q * ln({LM_MU} / (dl.dl + {LM_MU})) AS score
  FROM hits h JOIN dl USING (doc_id) JOIN nq USING (query_id)),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


TDI_SEED, TDI_K, TDI_CLICK_SEED, TDI_CLICK_P = 17, 10, 5, 0.35


def q_team_draft_interleave(spark, sf_dir):
    """Team-draft interleaving (Radlinski et al. 2008) of the Okapi and
    Dirichlet-LM rankers plus click-credit assignment: md5 coins pick the
    drafting team per round, the greedy draft runs as one Arrow-batched
    applyInPandas over query groups, clicks are the deterministic md5
    uniform, and the winner column is the statistic an online A/B test
    accumulates."""
    from bertopic_spark.operators.bm25 import lm_topk, okapi_bm25_topk
    from bertopic_spark.operators.evaluation import (interleave_credit,
                                                     team_draft_interleave)

    d = _docs(spark, sf_dir)
    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    ra = okapi_bm25_topk(d, qt, k=10, k1=OKAPI_K1, b=OKAPI_B,
                         text_col="text", mode=MODE)
    rb = lm_topk(d, qt, k=10, mu=LM_MU, text_col="text", mode=MODE)
    inter = team_draft_interleave(ra, rb, k_out=TDI_K, seed=TDI_SEED)
    u = ((F.conv(F.substring(F.md5(F.concat_ws(
        "_", F.lit(TDI_CLICK_SEED), F.col("query_id").cast("string"),
        F.col("doc_id").cast("string"))), 1, 15), 16, 10).cast("double")
        + F.lit(0.5)) / F.lit(float(16 ** 15)))
    inter = inter.withColumn("clicked", (u < TDI_CLICK_P).cast("int"))
    clicks = inter.filter(F.col("clicked") == 1) \
        .select("query_id", "doc_id")
    credit = interleave_credit(inter, clicks)
    return (inter.join(F.broadcast(credit), "query_id")
            .select("query_id", F.col("pos").cast("long").alias("pos"),
                    "doc_id", "team", F.col("clicked").cast("long")
                    .alias("clicked"),
                    F.col("clicks_a").cast("long").alias("clicks_a"),
                    F.col("clicks_b").cast("long").alias("clicks_b"),
                    "winner"))


def _sql_team_draft() -> str:
    sd, k = TDI_SEED, TDI_K
    coin = (f"(CAST(concat('0x', substr(md5('{sd}_' || "
            f"CAST(s.query_id AS VARCHAR) || '_' || "
            f"CAST(CAST(floor((s.pos + 1) / 2) AS INT) AS VARCHAR)), "
            f"1, 15)) AS BIGINT) + 0.5) / 1152921504606846976.0")
    poses = ", ".join(f"({i})" for i in range(1, k + 1))
    steps = []
    for i in range(1, k + 1):
        notin = ("" if i == 1 else
                 f" AND NOT EXISTS (SELECT 1 FROM pall{i-1} p "
                 f"WHERE p.query_id = r.query_id "
                 f"AND p.doc_id = r.doc_id)")
        steps.append(f"""p{i} AS MATERIALIZED (
  SELECT query_id, pos, doc_id, team FROM (
    SELECT s.query_id, s.pos, r.doc_id, r.team,
           row_number() OVER (PARTITION BY s.query_id
             ORDER BY CASE WHEN r.team = s.slated THEN 0 ELSE 1 END,
                      r.rn, r.doc_id) AS pr
    FROM spine s JOIN both_r r ON r.query_id = s.query_id{notin}
    WHERE s.pos = {i}) WHERE pr = 1)""")
        pall = (f"pall{i} AS MATERIALIZED (SELECT * FROM p{i})" if i == 1
                else f"pall{i} AS MATERIALIZED (SELECT * FROM pall{i-1} "
                     f"UNION ALL SELECT * FROM p{i})")
        steps.append(pall)
    chain = ",\n".join(steps)
    ranked_a = SQL_OKAPI_BM25.split("WITH", 1)[1].rsplit("SELECT", 1)[0]
    return f"""WITH {ranked_a.rstrip().rstrip(',')},
rank_a AS (SELECT query_id, doc_id, rn FROM ranked WHERE rn <= 10),
lm_cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM xdoc GROUP BY term),
lm_tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM xdoc),
lm_qv AS (SELECT q.query_id, q.term FROM q JOIN lm_cf USING (term)),
lm_nq AS (SELECT query_id, count(*) AS n_q FROM lm_qv GROUP BY query_id),
lm_hits AS (
  SELECT qv.query_id, x.doc_id,
         sum(ln(1.0 + x.tf * tot.total / ({LM_MU} * cf.cf))) AS ql
  FROM lm_qv qv JOIN xdoc x USING (term) JOIN lm_cf cf USING (term)
  CROSS JOIN lm_tot tot
  GROUP BY qv.query_id, x.doc_id),
lm_scored AS (
  SELECT h.query_id, h.doc_id,
         h.ql + nq.n_q * ln({LM_MU} / (dl.dl + {LM_MU})) AS score
  FROM lm_hits h JOIN dl USING (doc_id) JOIN lm_nq nq USING (query_id)),
rank_b AS (
  SELECT query_id, doc_id, rn FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS rn
    FROM lm_scored) WHERE rn <= 10),
both_r AS MATERIALIZED (
  SELECT query_id, doc_id, rn, 'A' AS team FROM rank_a
  UNION ALL
  SELECT query_id, doc_id, rn, 'B' AS team FROM rank_b),
spine AS MATERIALIZED (
  SELECT s.query_id, s.pos,
         CASE WHEN {coin} < 0.5
              THEN (CASE WHEN s.pos % 2 = 1 THEN 'A' ELSE 'B' END)
              ELSE (CASE WHEN s.pos % 2 = 1 THEN 'B' ELSE 'A' END) END
         AS slated
  FROM (SELECT query_id, pos
        FROM (SELECT DISTINCT query_id FROM both_r)
        CROSS JOIN (VALUES {poses}) v(pos)) s),
{chain},
inter AS MATERIALIZED (
  SELECT query_id, pos, doc_id, team,
         CASE WHEN (CAST(concat('0x', substr(md5('{TDI_CLICK_SEED}_' ||
              CAST(query_id AS VARCHAR) || '_' ||
              CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
              / 1152921504606846976.0 < {TDI_CLICK_P}
              THEN 1 ELSE 0 END AS clicked
  FROM pall{k}),
credit AS (
  SELECT query_id,
         CAST(sum(CASE WHEN team = 'A' AND clicked = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS clicks_a,
         CAST(sum(CASE WHEN team = 'B' AND clicked = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS clicks_b
  FROM inter GROUP BY query_id)
SELECT CAST(i.query_id AS BIGINT) AS query_id,
       CAST(i.pos AS BIGINT) AS pos, i.doc_id, i.team,
       CAST(i.clicked AS BIGINT) AS clicked, c.clicks_a, c.clicks_b,
       CASE WHEN c.clicks_a > c.clicks_b THEN 'A'
            WHEN c.clicks_b > c.clicks_a THEN 'B'
            ELSE 'tie' END AS winner
FROM inter i JOIN credit c USING (query_id)"""


RM3_R, RM3_M, RM3_LAM = 3, 5, 0.5


def q_rm3_topk(spark, sf_dir):
    """RM3 pseudo-relevance feedback over Dirichlet query likelihood
    (operators/bm25.rm3_topk — Lavrenko & Croft 2001 relevance models,
    RM3 interpolation): softmax doc posteriors over round-1 scores,
    MLE doc models, top-m expansion renormalized and interpolated at λ."""
    from bertopic_spark.operators.bm25 import rm3_topk

    t = rm3_topk(_docs(spark, sf_dir), queries_df(spark, DRIVER_QUERIES),
                 r=RM3_R, m=RM3_M, lam=RM3_LAM, k=10, mu=LM_MU,
                 text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_RM3_TOPK = f"""WITH {_TOKS}, {_XDOC},
cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM xdoc GROUP BY term),
tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM xdoc),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
q(query_id, term) AS (VALUES {_query_term_values()}),
qv AS (SELECT q.query_id, q.term FROM q JOIN cf USING (term)),
nq AS (SELECT query_id, count(*) AS n_q FROM qv GROUP BY query_id),
h1 AS (
  SELECT qv.query_id, x.doc_id,
         sum(ln(1.0 + x.tf * tot.total / ({LM_MU} * cf.cf))) AS ql
  FROM qv JOIN xdoc x USING (term) JOIN cf USING (term) CROSS JOIN tot
  GROUP BY qv.query_id, x.doc_id),
s1 AS (
  SELECT h.query_id, h.doc_id,
         round(h.ql + nq.n_q * ln({LM_MU} / (dl.dl + {LM_MU})), 6) AS score
  FROM h1 h JOIN dl USING (doc_id) JOIN nq USING (query_id)),
fbd AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS fr
  FROM s1),
fbr AS (SELECT query_id, doc_id, score FROM fbd WHERE fr <= {RM3_R}),
post0 AS (
  SELECT query_id, doc_id,
         exp(score - max(score) OVER (PARTITION BY query_id)) AS e
  FROM fbr),
post AS (
  SELECT query_id, doc_id,
         round(e / sum(e) OVER (PARTITION BY query_id), 9) AS p
  FROM post0),
xl AS (SELECT x.doc_id, x.term, x.tf, dl.dl FROM xdoc x JOIN dl USING (doc_id)),
rm1 AS (
  SELECT p.query_id, xl.term, round(sum(p.p * xl.tf / xl.dl), 9) AS rw
  FROM post p JOIN xl ON xl.doc_id = p.doc_id
  GROUP BY p.query_id, xl.term),
topm AS (
  SELECT query_id, term, rw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rw DESC, term ASC) AS er
  FROM rm1),
kept AS (SELECT query_id, term, rw FROM topm WHERE er <= {RM3_M}),
expn AS (
  SELECT query_id, term,
         (1.0 - {RM3_LAM}) * rw / sum(rw) OVER (PARTITION BY query_id) AS w
  FROM kept),
orig AS (
  SELECT qv.query_id, qv.term, {RM3_LAM} / nq.n_q AS w
  FROM qv JOIN nq USING (query_id)),
wgt AS (
  SELECT query_id, term, round(sum(w), 9) AS w
  FROM (SELECT * FROM orig UNION ALL SELECT * FROM expn)
  GROUP BY query_id, term
  HAVING round(sum(w), 9) > 0),
ws AS (SELECT query_id, sum(w) AS ws FROM wgt GROUP BY query_id),
h2 AS (
  SELECT g.query_id, x.doc_id,
         sum(g.w * ln(1.0 + x.tf * tot.total / ({LM_MU} * cf.cf))) AS ql
  FROM wgt g JOIN xdoc x USING (term) JOIN cf USING (term) CROSS JOIN tot
  GROUP BY g.query_id, x.doc_id),
s2 AS (
  SELECT h.query_id, h.doc_id,
         h.ql + ws.ws * ln({LM_MU} / (dl.dl + {LM_MU})) AS score
  FROM h2 h JOIN dl USING (doc_id) JOIN ws USING (query_id)),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM s2)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_lm_jm_topk(spark, sf_dir):
    """Query-likelihood retrieval, Jelinek-Mercer smoothing λ=0.1
    (operators/bm25.lm_jm_topk — Lucene LMJelinekMercerSimilarity):
    a pure matched-term ln-sum, no per-doc constant, over the same
    pruned inverted-index probe as the Dirichlet path."""
    from bertopic_spark.operators.bm25 import lm_jm_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = lm_jm_topk(_docs(spark, sf_dir), qt, k=10, lam=0.1,
                   text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_LM_JM_TOPK = f"""WITH {_TOKS}, {_XDOC},
cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM xdoc GROUP BY term),
tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM xdoc),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(ln(1.0 + (0.9 / 0.1) * (x.tf / dl.dl)
                / (cf.cf / tot.total))) AS score
  FROM q JOIN xdoc x USING (term) JOIN cf USING (term)
         JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN tot
  GROUP BY q.query_id, x.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_dfr_pl2_topk(spark, sf_dir):
    """Divergence-From-Randomness retrieval, PL2 (operators/bm25.
    dfr_pl2_topk — Amati & van Rijsbergen 2002; Lucene DFRSimilarity
    P/L/2, Terrier default): Poisson randomness + Laplace after-effect +
    length normalization 2, natural-log formulation, c=1."""
    from bertopic_spark.operators.bm25 import dfr_pl2_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = dfr_pl2_topk(_docs(spark, sf_dir), qt, k=10, c=1.0,
                     text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_DFR_PL2 = f"""WITH {_TOKS}, {_XDOC},
cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM xdoc GROUP BY term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
coll AS (SELECT count(*) AS n_docs, avg(dl) AS avg_dl FROM dl),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum((
           (x.tf * ln(1.0 + coll.avg_dl / dl.dl))
             * ln((x.tf * ln(1.0 + coll.avg_dl / dl.dl))
                  / (cf.cf / CAST(coll.n_docs AS DOUBLE)))
           + (cf.cf / CAST(coll.n_docs AS DOUBLE)
              - x.tf * ln(1.0 + coll.avg_dl / dl.dl))
           + 0.5 * ln(2.0 * pi() * x.tf * ln(1.0 + coll.avg_dl / dl.dl))
         ) / (x.tf * ln(1.0 + coll.avg_dl / dl.dl) + 1.0)) AS score
  FROM q JOIN xdoc x USING (term) JOIN cf USING (term)
         JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN coll
  GROUP BY q.query_id, x.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_dfi_topk(spark, sf_dir):
    """Divergence-From-Independence retrieval (operators/bm25.dfi_topk —
    Kocabaş et al. 2014; Lucene DFISimilarity, standardized measure):
    parameter-free; a term scores only where observed tf exceeds the
    independence expectation dl·cf/T, so stop-terms self-prune."""
    from bertopic_spark.operators.bm25 import dfi_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = dfi_topk(_docs(spark, sf_dir), qt, k=10, text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_DFI_TOPK = f"""WITH {_TOKS}, {_XDOC},
cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM xdoc GROUP BY term),
tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM xdoc),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(CASE WHEN x.tf > dl.dl * cf.cf / CAST(tot.total AS DOUBLE)
             THEN ln(1.0 + (x.tf - dl.dl * cf.cf / CAST(tot.total AS DOUBLE))
                     / sqrt(dl.dl * cf.cf / CAST(tot.total AS DOUBLE)))
             ELSE 0.0 END) AS score
  FROM q JOIN xdoc x USING (term) JOIN cf USING (term)
         JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN tot
  GROUP BY q.query_id, x.doc_id
  HAVING sum(CASE WHEN x.tf > dl.dl * cf.cf / CAST(tot.total AS DOUBLE)
             THEN ln(1.0 + (x.tf - dl.dl * cf.cf / CAST(tot.total AS DOUBLE))
                     / sqrt(dl.dl * cf.cf / CAST(tot.total AS DOUBLE)))
             ELSE 0.0 END) > 0),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_ib_ll_topk(spark, sf_dir):
    """Information-Based retrieval, log-logistic (operators/bm25.ib_topk
    — Clinchant & Gaussier 2010; Lucene IBSimilarity LL/DF/H2):
    gain = ln(1 + tfn/λ), tfn natural-log H2, λ = (df+1)/(N+1)."""
    from bertopic_spark.operators.bm25 import ib_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = ib_topk(_docs(spark, sf_dir), qt, k=10, distribution="ll",
                text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


def q_ib_spl_topk(spark, sf_dir):
    """Information-Based retrieval, smoothed power-law (operators/bm25.
    ib_topk — Lucene IBSimilarity SPL/DF/H2): gain =
    -ln((λ^(tfn/(tfn+1)) - λ)/(1-λ)), guarded to 0 at λ=1."""
    from bertopic_spark.operators.bm25 import ib_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = ib_topk(_docs(spark, sf_dir), qt, k=10, distribution="spl",
                text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


def _sql_ib(gain: str) -> str:
    return f"""WITH {_TOKS}, {_XDOC},
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
coll AS (SELECT count(*) AS n_docs, avg(dl) AS avg_dl FROM dl),
q(query_id, term) AS (VALUES {_query_term_values()}),
parts AS (
  SELECT q.query_id, x.doc_id,
         x.tf * ln(1.0 + coll.avg_dl / dl.dl) AS tfn,
         (dft.df + 1.0) / (coll.n_docs + 1.0) AS lam
  FROM q JOIN xdoc x USING (term) JOIN dft USING (term)
         JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN coll),
hits AS (
  SELECT query_id, doc_id, sum({gain}) AS score
  FROM parts GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


SQL_IB_LL = _sql_ib("ln(1.0 + tfn / lam)")
SQL_IB_SPL = _sql_ib(
    "CASE WHEN lam < 1.0 THEN -ln((pow(lam, tfn / (tfn + 1.0)) - lam)"
    " / (1.0 - lam)) ELSE 0.0 END")


def q_axiomatic_f2exp_topk(spark, sf_dir):
    """Axiomatic retrieval F2EXP (operators/bm25.axiomatic_topk — Fang
    & Zhai 2005; Lucene AxiomaticF2EXP): constraint-derived ranking,
    ((N+1)/df)^0.35 · tf/(tf + 0.5 + 0.5·dl/avg_dl)."""
    from bertopic_spark.operators.bm25 import axiomatic_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = axiomatic_topk(_docs(spark, sf_dir), qt, k=10, variant="f2exp",
                       text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_AXIOMATIC_F2EXP = f"""WITH {_TOKS}, {_XDOC},
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
coll AS (SELECT count(*) AS n_docs, avg(dl) AS avg_dl FROM dl),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(pow((coll.n_docs + 1.0) / dft.df, 0.35)
             * x.tf / (x.tf + 0.5 + 0.5 * dl.dl / coll.avg_dl)) AS score
  FROM q JOIN xdoc x USING (term) JOIN dft USING (term)
         JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN coll
  GROUP BY q.query_id, x.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_classic_tfidf_topk(spark, sf_dir):
    """Classic TF-IDF vector-space retrieval (operators/bm25.
    classic_tfidf_topk — Salton VSM / Lucene ClassicSimilarity):
    sqrt(tf) · (1 + ln((N+1)/(df+1)))² / sqrt(dl), the pre-BM25 default;
    completes the classical similarity family."""
    from bertopic_spark.operators.bm25 import classic_tfidf_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = classic_tfidf_topk(_docs(spark, sf_dir), qt, k=10,
                           text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_CLASSIC_TFIDF = f"""WITH {_TOKS}, {_XDOC},
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM xdoc),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
q(query_id, term) AS (VALUES {_query_term_values()}),
idf AS (SELECT term,
               1.0 + ln((nd.n_docs + 1.0) / (dft.df + 1.0)) AS idf
        FROM dft CROSS JOIN nd),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(sqrt(x.tf) * idf.idf * idf.idf / sqrt(dl.dl)) AS score
  FROM q JOIN xdoc x USING (term) JOIN idf USING (term)
         JOIN dl ON dl.doc_id = x.doc_id
  GROUP BY q.query_id, x.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_query_difficulty(spark, sf_dir):
    """Pre-retrieval query-performance prediction (operators/evaluation.
    query_difficulty — He & Ounis 2004 idf/SCS predictors; Zhao et al.
    2008 SCQ): per-query difficulty signals computed from the term
    statistics alone, before any retrieval."""
    from bertopic_spark.operators.evaluation import query_difficulty

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = query_difficulty(_docs(spark, sf_dir), qt, text_col="text", mode=MODE)
    return t.select(
        "query_id", F.col("n_terms").cast("long").alias("n_terms"),
        F.col("n_vocab").cast("long").alias("n_vocab"),
        "avg_idf", "max_idf", "sum_scq", "avg_scq", "max_scq", "scs")


SQL_QUERY_DIFFICULTY = f"""WITH {_TOKS}, {_XDOC},
stats AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                 CAST(sum(tf) AS BIGINT) AS cf FROM xdoc GROUP BY term),
coll AS (SELECT count(DISTINCT doc_id) AS n_docs,
                CAST(sum(tf) AS BIGINT) AS total FROM xdoc),
q(query_id, term) AS (VALUES {_query_term_values()}),
nq AS (SELECT query_id, count(*) AS n_terms FROM q GROUP BY query_id),
probe AS (
  SELECT q.query_id,
         ln((coll.n_docs + 1.0) / s.df) AS idf,
         (1.0 + ln(s.cf)) * ln(1.0 + coll.n_docs / CAST(s.df AS DOUBLE)) AS scq,
         ln(coll.total / CAST(s.cf AS DOUBLE)) AS lt
  FROM q JOIN stats s USING (term) CROSS JOIN coll),
perq AS (
  SELECT query_id, count(*) AS n_vocab,
         avg(idf) AS avg_idf, max(idf) AS max_idf,
         sum(scq) AS sum_scq, avg(scq) AS avg_scq, max(scq) AS max_scq,
         sum(lt) AS _lsum
  FROM probe GROUP BY query_id)
SELECT CAST(nq.query_id AS BIGINT) AS query_id,
       CAST(nq.n_terms AS BIGINT) AS n_terms,
       CAST(coalesce(p.n_vocab, 0) AS BIGINT) AS n_vocab,
       round(p.avg_idf, 6) AS avg_idf, round(p.max_idf, 6) AS max_idf,
       round(p.sum_scq, 6) AS sum_scq, round(p.avg_scq, 6) AS avg_scq,
       round(p.max_scq, 6) AS max_scq,
       round(-ln(CAST(p.n_vocab AS DOUBLE)) + p._lsum / p.n_vocab, 6) AS scs
FROM nq LEFT JOIN perq p USING (query_id)"""


def q_clarity_score(spark, sf_dir):
    """Post-retrieval clarity score (operators/evaluation.clarity_score —
    Cronen-Townsend, Zhou & Croft 2002): KL divergence between the
    Dirichlet-QL top-10 feedback language model (uniform doc weights)
    and the collection model."""
    from bertopic_spark.operators.evaluation import clarity_score

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = clarity_score(_docs(spark, sf_dir), qt, k=10, mu=LM_MU,
                      text_col="text", mode=MODE)
    return t.select("query_id", F.col("n_fb").cast("long").alias("n_fb"),
                    "clarity")


def _sql_clarity() -> str:
    return f"""WITH {_TOKS}, {_XDOC},
cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM xdoc GROUP BY term),
tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM xdoc),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
q(query_id, term) AS (VALUES {_query_term_values()}),
qv AS (SELECT q.query_id, q.term FROM q JOIN cf USING (term)),
nq AS (SELECT query_id, count(*) AS n_q FROM qv GROUP BY query_id),
hits AS (
  SELECT qv.query_id, x.doc_id,
         sum(ln(1.0 + x.tf * tot.total / ({LM_MU} * cf.cf))) AS ql
  FROM qv JOIN xdoc x USING (term) JOIN cf USING (term) CROSS JOIN tot
  GROUP BY qv.query_id, x.doc_id),
scored AS (
  SELECT h.query_id, h.doc_id,
         h.ql + nq.n_q * ln({LM_MU} / (dl.dl + {LM_MU})) AS score
  FROM hits h JOIN dl USING (doc_id) JOIN nq USING (query_id)),
fb AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS rn
    FROM scored) WHERE rn <= 10),
nfb AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_fb
        FROM fb GROUP BY query_id),
pr AS (
  SELECT fb.query_id, x.term,
         sum(x.tf / CAST(dl.dl AS DOUBLE)) / max(nfb.n_fb) AS pwr
  FROM fb JOIN xdoc x USING (doc_id) JOIN dl USING (doc_id)
          JOIN nfb ON nfb.query_id = fb.query_id
  GROUP BY fb.query_id, x.term),
cl AS (
  SELECT pr.query_id,
         round(sum(pr.pwr * ln(pr.pwr * tot.total
                               / CAST(cf.cf AS DOUBLE))), 6) AS clarity
  FROM pr JOIN cf USING (term) CROSS JOIN tot
  GROUP BY pr.query_id)
SELECT CAST(nfb.query_id AS BIGINT) AS query_id, nfb.n_fb, cl.clarity
FROM nfb JOIN cl USING (query_id)"""


CORI_SHARDS, CORI_B, CORI_PROBE = 8, 0.4, 2


def q_cori_shard_scores(spark, sf_dir):
    """CORI resource selection (operators/bm25.cori_shard_scores —
    Callan, Lu & Croft 1995): per-query shard beliefs from shard-level
    df/cw statistics only; no document is scored."""
    from bertopic_spark.operators.bm25 import cori_shard_scores

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = cori_shard_scores(_docs(spark, sf_dir), qt, n_shards=CORI_SHARDS,
                          b=CORI_B, text_col="text", mode=MODE)
    return t.select(
        "query_id", F.col("shard").cast("long").alias("shard"),
        _r6(F.col("belief")).alias("belief"),
        F.col("rank").cast("long").alias("rn"))


def _sql_cori_ctes() -> str:
    ns, b = CORI_SHARDS, CORI_B
    return f"""xs AS (SELECT doc_id, term, tf, doc_id % {ns} AS shard FROM xdoc),
q(query_id, term) AS (VALUES {_query_term_values()}),
sdf AS (
  SELECT shard, term, CAST(count(*) AS BIGINT) AS df FROM xs
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY shard, term),
cw AS (SELECT shard, CAST(sum(tf) AS BIGINT) AS cw FROM xs GROUP BY shard),
acw AS (SELECT avg(cw) AS avg_cw FROM cw),
sfr AS (SELECT term, CAST(count(*) AS BIGINT) AS sf FROM sdf GROUP BY term),
bel AS (
  SELECT s.shard, s.term,
         {b} + {1.0 - b} * (s.df / (s.df + 50.0 + 150.0 * cw.cw / acw.avg_cw))
             * (ln(({ns} + 0.5) / sfr.sf) / ln({ns} + 1.0)) AS p
  FROM sdf s JOIN sfr USING (term) JOIN cw USING (shard) CROSS JOIN acw),
nv AS (SELECT q.query_id, count(*) AS nv
       FROM q JOIN sfr USING (term) GROUP BY q.query_id),
matched AS (
  SELECT q.query_id, bl.shard, sum(bl.p) AS sp, count(*) AS nm
  FROM q JOIN bel bl USING (term) GROUP BY q.query_id, bl.shard),
grid AS (SELECT nv.query_id, nv.nv, cw.shard FROM nv CROSS JOIN cw),
beliefs AS (
  SELECT g.query_id, g.shard,
         round((coalesce(m.sp, 0.0) + {b} * (g.nv - coalesce(m.nm, 0)))
               / g.nv, 9) AS belief
  FROM grid g LEFT JOIN matched m
       ON m.query_id = g.query_id AND m.shard = g.shard)"""


SQL_CORI_SHARDS = f"""WITH {_TOKS}, {_XDOC}, {_sql_cori_ctes()}
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(shard AS BIGINT) AS shard,
       round(belief, 6) AS belief,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY belief DESC, shard ASC) AS BIGINT) AS rn
FROM beliefs"""


def q_selective_search_topk(spark, sf_dir):
    """Selective search (operators/bm25.selective_search_topk — Kulkarni
    & Callan 2010): BM25 over only the CORI top-2 of 8 shards per query,
    global collection statistics."""
    from bertopic_spark.operators.bm25 import selective_search_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = selective_search_topk(_docs(spark, sf_dir), qt, k=10,
                              n_probe=CORI_PROBE, n_shards=CORI_SHARDS,
                              b=CORI_B, text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"))


SQL_SELECTIVE_SEARCH = f"""WITH {_TOKS}, {_XDOC},
{_scores_sql('xdoc', 'doc_id', True, False)}, {_sql_cori_ctes()},
sel AS (
  SELECT query_id, shard FROM (
    SELECT query_id, shard,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY belief DESC, shard ASC) AS r
    FROM beliefs) WHERE r <= {CORI_PROBE}),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM q JOIN scores s USING (term)
         JOIN sel ON sel.query_id = q.query_id
                 AND sel.shard = s.doc_id % {CORI_SHARDS}
  GROUP BY q.query_id, s.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_common_terms_topk(spark, sf_dir):
    """Lucene CommonTermsQuery (operators/bm25.common_terms_topk):
    candidates admitted only by rare terms (df ≤ 0.78·N — chosen so the
    fixture exercises rare-only, mixed AND no-rare-fallback queries);
    common terms score but never admit. The candidate set broadcasts
    onto the common postings, pruning them before the scoring shuffle."""
    from bertopic_spark.operators.bm25 import common_terms_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    handles: list = []
    d = _docs(spark, sf_dir)
    scores = doc_scores(d, text_col="text",
                        id_col="doc_id", mode=MODE, _persisted_out=handles)
    # N = every row of documents (Lucene's maxDoc, token-empty docs
    # included), from the parquet metadata count — skips the operator's
    # fallback count_distinct shuffle over the postings (its widest job);
    # the oracle's nd CTE counts the same rows
    t = common_terms_topk(scores, qt, k=10, max_df=0.78, n_docs=d.count())
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_COMMON_TERMS = f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM scores GROUP BY term),
nd AS (SELECT CAST(ceil(0.78 * count(*)) AS BIGINT) AS cutoff
       FROM documents),
q(query_id, term) AS (VALUES {_query_term_values()}),
qd AS (SELECT q.query_id, q.term,
              coalesce(dfr.df, 0) <= nd.cutoff AS is_rare
       FROM (SELECT DISTINCT query_id, term FROM q) q
       LEFT JOIN dfr USING (term) CROSS JOIN nd),
hr AS (SELECT query_id, max(CAST(is_rare AS INTEGER)) AS hr
       FROM qd GROUP BY query_id),
qg AS (SELECT qd.query_id, qd.term, (qd.is_rare OR hr.hr = 0) AS gen
       FROM qd JOIN hr USING (query_id)),
gen_hits AS (
  SELECT g.query_id, s.doc_id, s.score
  FROM qg g JOIN scores s USING (term) WHERE g.gen),
cand AS (SELECT DISTINCT query_id, doc_id FROM gen_hits),
common_hits AS (
  SELECT g.query_id, s.doc_id, s.score
  FROM qg g JOIN scores s USING (term)
  JOIN cand c ON c.query_id = g.query_id AND c.doc_id = s.doc_id
  WHERE NOT g.gen),
hits AS (
  SELECT query_id, doc_id, sum(score) AS score
  FROM (SELECT * FROM gen_hits UNION ALL SELECT * FROM common_hits)
  GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_phrase_boost_topk(spark, sf_dir):
    """Solr edismax pf (operators/fulltext.phrase_boost_topk): BM25
    disjunction recall + boost × consecutive-phrase occurrences; one
    shared positional sliver pruned to the query vocabularies serves
    every query's adjacency check."""
    from bertopic_spark.operators.fulltext import phrase_boost_topk

    handles: list = []
    t = phrase_boost_topk(_docs(spark, sf_dir), DRIVER_QUERIES, k=10,
                          boost=0.01, text_col="text", mode=MODE,
                          _persisted_out=handles)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        _r6(F.col("boosted")).alias("boosted"),
        F.col("rank").cast("long").alias("rn"),
    )


def _sql_phrase_boost() -> str:
    from bertopic_spark.tokenizer import tokenize_one as _tok

    parts = []
    for qid, text in sorted(DRIVER_QUERIES.items()):
        ts = _tok(text, MODE)
        if not ts:
            continue
        conds = " AND ".join(
            f"ts[i+{j + 1}] = '{t}'" for j, t in enumerate(ts))
        parts.append(
            f"SELECT {qid} AS query_id, doc_id, CAST(len(list_filter("
            f"range(greatest(len(ts) - {len(ts) - 1}, 0)), "
            f"i -> {conds})) AS BIGINT) AS n FROM tk")
    pm = " UNION ALL ".join(parts)
    return f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM q JOIN scores s USING (term) GROUP BY 1, 2),
pm AS ({pm}),
boosted AS (
  SELECT h.query_id, h.doc_id, h.score,
         h.score + 0.01 * coalesce(p.n, 0) AS boosted
  FROM hits h LEFT JOIN pm p
    ON p.query_id = h.query_id AND p.doc_id = h.doc_id),
ranked AS (
  SELECT query_id, doc_id, score, boosted,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY boosted DESC, doc_id ASC) AS rn
  FROM boosted)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       round(boosted, 6) AS boosted, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_ltr_features(spark, sf_dir):
    """Learning-to-rank feature extraction (operators/bm25.ltr_features):
    per-(query, candidate) bm25 + Dirichlet-LM + coverage + length +
    static-quality features in one pruned pass — the training-data side
    of a ranking pipeline."""
    from bertopic_spark.operators.bm25 import ltr_features
    from bertopic_spark.operators.textstats import quality_score

    d = _docs(spark, sf_dir)
    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    qual = quality_score(d, "text", "doc_id", MODE)
    out = ltr_features(d, qt, text_col="text", mode=MODE, mu=LM_MU,
                       quality=qual)
    return out.select(
        "query_id", "doc_id", _r6(F.col("bm25")).alias("bm25"),
        _r6(F.col("ql")).alias("ql"), "n_matched", "n_q",
        _r6(F.col("match_ratio")).alias("match_ratio"), "dl", "sum_tf",
        "quality",
    )


SQL_LTR_FEATURES = f"""WITH {_TOKS}, {_XDOC},
{_stats_sql('xdoc', 'doc_id', True)},
cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM xdoc GROUP BY term),
tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM xdoc),
q(query_id, term) AS (VALUES {_query_term_values()}),
qv AS (SELECT q.query_id, q.term FROM q JOIN cf USING (term)),
nq AS (SELECT query_id, count(*) AS n_q FROM qv GROUP BY query_id),
qtk AS (SELECT doc_id, text, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
qs AS (SELECT doc_id,
         CAST(len(ts) AS BIGINT) AS n_tokens,
         CASE WHEN len(ts) > 0 THEN len(list_distinct(ts)) * 1.0 / len(ts) ELSE 0.0 END AS ttr,
         round(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0 /
               greatest(length(text), 1), 6) AS alpha_ratio
       FROM qtk),
qual AS (SELECT doc_id,
  round((CASE WHEN n_tokens < 5 THEN 0.2 WHEN n_tokens > 5000 THEN 0.5 ELSE 1.0 END)
        * (0.5 + 0.5 * ttr) * alpha_ratio, 6) AS quality
  FROM qs),
feat AS (
  SELECT qv.query_id, x.doc_id,
         sum(x.tf * 1.0 / clen.class_len * idf.idf) AS bm25,
         sum(ln(1.0 + x.tf * tot.total / ({LM_MU} * cf.cf))) AS ql_sum,
         CAST(count(*) AS BIGINT) AS n_matched,
         CAST(sum(x.tf) AS BIGINT) AS sum_tf,
         CAST(max(clen.class_len) AS BIGINT) AS dl
  FROM qv JOIN xdoc x USING (term) JOIN cf USING (term)
       JOIN idf USING (term) JOIN clen USING (doc_id) CROSS JOIN tot
  GROUP BY qv.query_id, x.doc_id)
SELECT CAST(f.query_id AS BIGINT) AS query_id, f.doc_id,
       round(f.bm25, 6) AS bm25,
       round(f.ql_sum + nq.n_q * ln({LM_MU} / (f.dl + {LM_MU})), 6) AS ql,
       f.n_matched, CAST(nq.n_q AS BIGINT) AS n_q,
       round(f.n_matched * 1.0 / nq.n_q, 6) AS match_ratio,
       f.dl, f.sum_tf, qual.quality
FROM feat f JOIN nq USING (query_id) JOIN qual USING (doc_id)"""


LTRT_ITERS, LTRT_LR, LTRT_L2 = 12, 1.0, 0.01
LTRT_COLS = ("bm25", "ql", "ldl", "lst")


def q_ltr_logreg_rerank(spark, sf_dir):
    """Pointwise LTR training (operators/ltr.py): logistic regression by
    distributed full-batch GD — one map-side-combined aggregation per
    iteration, weights rounded 9dp per step so the SQL oracle replays the
    identical trajectory. Features (6dp-rounded): bm25, Dirichlet QL,
    ln(1+dl), ln(1+sum_tf); label = doc matches ≥2 distinct query terms.
    Output: candidates re-ranked by the learned model."""
    from bertopic_spark.operators.bm25 import ltr_features
    from bertopic_spark.operators.ltr import (feature_stats, logreg_rerank,
                                              logreg_train)

    d = _docs(spark, sf_dir)
    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    f = (ltr_features(d, qt, text_col="text", mode=MODE, mu=LM_MU)
         .select("query_id", "doc_id",
                 _r6(F.col("bm25")).alias("bm25"),
                 _r6(F.col("ql")).alias("ql"),
                 _r6(F.log(F.lit(1.0) + F.col("dl"))).alias("ldl"),
                 _r6(F.log(F.lit(1.0) + F.col("sum_tf"))).alias("lst"),
                 (F.col("n_matched") >= 2).cast("int").alias("label"))
         .persist())
    cols = list(LTRT_COLS)
    st = feature_stats(f, cols)
    w = logreg_train(f, "label", cols, iters=LTRT_ITERS, lr=LTRT_LR,
                     l2=LTRT_L2, stats=st)
    out = logreg_rerank(f, cols, w, st, k=10)
    return out.select("query_id", "doc_id", _r6(F.col("prob")).alias("prob"),
                      F.col("rank").cast("long").alias("rank"))


def _sql_ltr_logreg() -> str:
    base = SQL_LTR_FEATURES.split("WITH", 1)[1].rsplit("SELECT", 1)[0]
    cols = LTRT_COLS
    lr, l2 = LTRT_LR, LTRT_L2
    zsel = ", ".join(
        f"CASE WHEN s_{c} <= 1e-12 THEN 0.0 ELSE ({c} - m_{c}) / s_{c} END"
        f" AS z{j + 1}" for j, c in enumerate(cols))
    stat_sel = ", ".join(
        f"round(avg({c}), 9) AS m_{c}, round(stddev_pop({c}), 9) AS s_{c}"
        for c in cols)
    margin = "p.b + " + " + ".join(f"p.w{j + 1} * z.z{j + 1}"
                                   for j in range(len(cols)))
    steps = ["it0 AS (SELECT 0.0 AS b, " +
             ", ".join(f"0.0 AS w{j + 1}" for j in range(len(cols))) + ")"]
    for i in range(1, LTRT_ITERS + 1):
        wup = ", ".join(
            f"round(max(pw{j + 1}) - {lr} * (avg((pr - y) * z{j + 1}) "
            f"+ {l2} * max(pw{j + 1})), 9) AS w{j + 1}"
            for j in range(len(cols)))
        pcols = ", ".join([f"p.w{j + 1} AS pw{j + 1}"
                           for j in range(len(cols))])
        steps.append(f"""it{i} AS MATERIALIZED (
  SELECT round(max(pb) - {lr} * avg(pr - y), 9) AS b, {wup}
  FROM (SELECT z.y, {', '.join('z.z' + str(j + 1)
                               for j in range(len(cols)))},
               p.b AS pb, {pcols},
               1.0 / (1.0 + exp(-({margin}))) AS pr
        FROM zf z CROSS JOIN it{i-1} p))""")
    chain = ",\n".join(steps)
    final_margin = "p.b + " + " + ".join(f"p.w{j + 1} * z.z{j + 1}"
                                         for j in range(len(cols)))
    return f"""WITH {base.rstrip().rstrip(',')},
rawf AS MATERIALIZED (
  SELECT f.query_id, f.doc_id,
         round(f.bm25, 6) AS bm25,
         round(f.ql_sum + nq.n_q * ln({LM_MU} / (f.dl + {LM_MU})), 6) AS ql,
         round(ln(1.0 + f.dl), 6) AS ldl,
         round(ln(1.0 + f.sum_tf), 6) AS lst,
         CASE WHEN f.n_matched >= 2 THEN 1.0 ELSE 0.0 END AS y
  FROM feat f JOIN nq USING (query_id)),
stats AS (SELECT {stat_sel} FROM rawf),
zf AS MATERIALIZED (
  SELECT query_id, doc_id, y, {zsel} FROM rawf CROSS JOIN stats),
{chain},
scored AS (
  SELECT z.query_id, z.doc_id,
         1.0 / (1.0 + exp(-({final_margin}))) AS prob
  FROM zf z CROSS JOIN it{LTRT_ITERS} p),
ranked AS (
  SELECT query_id, doc_id, prob,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY prob DESC, doc_id ASC) AS rank
  FROM scored)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       round(prob, 6) AS prob, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10"""


RANKNET_ITERS, RANKNET_PAIRS, RANKNET_SEED = 10, 200, 11
RANKNET_SIDE = 64  # per-(query, side) md5 cap applied BEFORE the pair join


def q_ltr_ranknet_rerank(spark, sf_dir):
    """Pairwise LTR (operators/ltr.py ranknet_train): one-linear-unit
    RankNet — per query, (relevant, non-relevant) z-feature differences,
    with blowup control BEFORE the pair join (each side md5-capped at 64
    docs/query, so the join emits ≤64² pre-cap rows per query instead of
    pos×neg) and an md5 cap of 200 pairs/query after it; pairwise
    logistic GD with the same 9dp-rounded SQL-replayable trajectory as
    the pointwise gate, then candidates re-ranked by w·z."""
    from bertopic_spark.operators.bm25 import ltr_features
    from bertopic_spark.operators.ltr import (feature_stats, pairwise_diffs,
                                              ranknet_rerank, ranknet_train)

    d = _docs(spark, sf_dir)
    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    f = (ltr_features(d, qt, text_col="text", mode=MODE, mu=LM_MU)
         .select("query_id", "doc_id",
                 _r6(F.col("bm25")).alias("bm25"),
                 _r6(F.col("ql")).alias("ql"),
                 _r6(F.log(F.lit(1.0) + F.col("dl"))).alias("ldl"),
                 _r6(F.log(F.lit(1.0) + F.col("sum_tf"))).alias("lst"),
                 (F.col("n_matched") >= 2).cast("int").alias("label"))
         .persist())
    cols = list(LTRT_COLS)
    st = feature_stats(f, cols)
    diffs = pairwise_diffs(f, "label", cols, st,
                           max_pairs_per_query=RANKNET_PAIRS,
                           seed=RANKNET_SEED,
                           max_side_per_query=RANKNET_SIDE).persist()
    w = ranknet_train(diffs, len(cols), iters=RANKNET_ITERS, lr=LTRT_LR,
                      l2=LTRT_L2)
    out = ranknet_rerank(f, cols, w, st, k=10)
    return out.select("query_id", "doc_id",
                      _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rank"))


def _sql_ltr_ranknet() -> str:
    base = SQL_LTR_FEATURES.split("WITH", 1)[1].rsplit("SELECT", 1)[0]
    cols = LTRT_COLS
    nf, lr, l2 = len(LTRT_COLS), LTRT_LR, LTRT_L2
    zsel = ", ".join(
        f"CASE WHEN s_{c} <= 1e-12 THEN 0.0 ELSE ({c} - m_{c}) / s_{c} END"
        f" AS z{j + 1}" for j, c in enumerate(cols))
    stat_sel = ", ".join(
        f"round(avg({c}), 9) AS m_{c}, round(stddev_pop({c}), 9) AS s_{c}"
        for c in cols)
    dsel = ", ".join(f"a.z{j + 1} - b.z{j + 1} AS d{j + 1}"
                     for j in range(nf))
    pmargin = " + ".join(f"p.w{j + 1} * z.d{j + 1}" for j in range(nf))
    steps = ["it0 AS (SELECT " +
             ", ".join(f"0.0 AS w{j + 1}" for j in range(nf)) + ")"]
    for i in range(1, RANKNET_ITERS + 1):
        wup = ", ".join(
            f"round(max(pw{j + 1}) - {lr} * (avg((pr - 1.0) * d{j + 1}) "
            f"+ {l2} * max(pw{j + 1})), 9) AS w{j + 1}"
            for j in range(nf))
        pcols = ", ".join(f"p.w{j + 1} AS pw{j + 1}" for j in range(nf))
        dcols = ", ".join(f"z.d{j + 1}" for j in range(nf))
        steps.append(f"""it{i} AS MATERIALIZED (
  SELECT {wup}
  FROM (SELECT {dcols}, {pcols},
               1.0 / (1.0 + exp(-({pmargin}))) AS pr
        FROM pairs z CROSS JOIN it{i-1} p))""")
    chain = ",\n".join(steps)
    fmargin = " + ".join(f"p.w{j + 1} * z.z{j + 1}" for j in range(nf))
    return f"""WITH {base.rstrip().rstrip(',')},
rawf AS MATERIALIZED (
  SELECT f.query_id, f.doc_id,
         round(f.bm25, 6) AS bm25,
         round(f.ql_sum + nq.n_q * ln({LM_MU} / (f.dl + {LM_MU})), 6) AS ql,
         round(ln(1.0 + f.dl), 6) AS ldl,
         round(ln(1.0 + f.sum_tf), 6) AS lst,
         CASE WHEN f.n_matched >= 2 THEN 1.0 ELSE 0.0 END AS y
  FROM feat f JOIN nq USING (query_id)),
stats AS (SELECT {stat_sel} FROM rawf),
zf AS MATERIALIZED (
  SELECT query_id, doc_id, y, {zsel} FROM rawf CROSS JOIN stats),
sided AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY query_id, y ORDER BY
    md5('{RANKNET_SEED}_side_' || CAST(query_id AS VARCHAR) || '_' ||
        CAST(doc_id AS VARCHAR)), doc_id) AS srn
  FROM zf),
pairs AS MATERIALIZED (
  SELECT query_id, id_pos, id_neg,
         {', '.join('d' + str(j + 1) for j in range(nf))} FROM (
    SELECT a.query_id, a.doc_id AS id_pos, b.doc_id AS id_neg, {dsel},
           row_number() OVER (PARTITION BY a.query_id ORDER BY
             md5('{RANKNET_SEED}_' || CAST(a.query_id AS VARCHAR) || '_' ||
                 CAST(a.doc_id AS VARCHAR) || '_' ||
                 CAST(b.doc_id AS VARCHAR)),
             a.doc_id, b.doc_id) AS rn
    FROM sided a JOIN sided b ON a.query_id = b.query_id
    WHERE a.y = 1.0 AND b.y = 0.0
      AND a.srn <= {RANKNET_SIDE} AND b.srn <= {RANKNET_SIDE})
  WHERE rn <= {RANKNET_PAIRS}),
{chain},
scored AS (
  SELECT z.query_id, z.doc_id, {fmargin} AS score
  FROM zf z CROSS JOIN it{RANKNET_ITERS} p),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       round(score, 6) AS score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10"""


def _evens_odds_del17_index(spark, sf_dir):
    """Shared incremental-gate fixture: append evens, append odds,
    tombstone every 17th — built fresh in a temp root (caller must
    shutil.rmtree it). The hand-derived SQL oracles hard-code the
    doc_id % 2 / % 17 history, so it lives in exactly one place."""
    import tempfile

    from bertopic_spark.index.incremental import IncrementalIndex

    docs = _docs(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="bsp_incfx_")
    idx = IncrementalIndex.create(spark, root, mode=MODE)
    idx.append(docs.filter(F.col("doc_id") % 2 == 0),
               text_col="text", id_col="doc_id")
    idx.append(docs.filter(F.col("doc_id") % 2 == 1),
               text_col="text", id_col="doc_id")
    idx.delete(docs.filter(F.col("doc_id") % 17 == 0),
               text_col="text", id_col="doc_id")
    return idx, root


def q_incremental_bm25_topk(spark, sf_dir):
    """Incremental index maintenance (index/incremental.py): append the
    even-id half, append the odd-id half, tombstone-delete every 17th doc,
    then query — rank- AND score-identical to BM25 over a full rebuild of
    the survivors (the oracle computes exactly that), because generations
    store idf-free postings and the merged idf is applied at query time.
    """
    import shutil

    idx, root = _evens_odds_del17_index(spark, sf_dir)
    try:
        qt_map = {qid: sorted(set(tokenize_one(t, MODE)))
                  for qid, t in DRIVER_QUERIES.items()}
        rows = (idx.topk(qt_map, k=10)
                .select("query_id", "doc_id",
                        _r6(F.col("score")).alias("score"),
                        F.col("rank").cast("long").alias("rn"))
                .collect())
        # Materialize before removing the index files (the driver collects
        # the returned DataFrame after this function exits).
        return spark.createDataFrame(
            rows, "query_id long, doc_id long, score double, rn long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_asof_bm25_topk(spark, sf_dir):
    """Snapshot time travel (index/incremental.py as_of): same three
    mutations as the incremental gate, but queried AS OF generation 2 —
    before the tombstone delete — so the oracle is BM25 over ALL
    documents. Reproducible retrieval for training-data lineage."""
    import shutil

    idx, root = _evens_odds_del17_index(spark, sf_dir)
    try:
        qt_map = {qid: sorted(set(tokenize_one(t, MODE)))
                  for qid, t in DRIVER_QUERIES.items()}
        rows = (idx.as_of(2).topk(qt_map, k=10)
                .select("query_id", "doc_id",
                        _r6(F.col("score")).alias("score"),
                        F.col("rank").cast("long").alias("rn"))
                .collect())
        return spark.createDataFrame(
            rows, "query_id long, doc_id long, score double, rn long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_incremental_okapi_topk(spark, sf_dir):
    """One index, two ranking models: the SAME generational index as the
    incremental gate (evens + odds + tombstone delete) served with the
    Okapi scorer — possible because generations store idf-free postings
    (tf in the payload, dl in norms, df from the pruned decode, N/Σlen
    from signed manifest counters)."""
    import shutil

    idx, root = _evens_odds_del17_index(spark, sf_dir)
    try:
        qt_map = {qid: sorted(set(tokenize_one(t, MODE)))
                  for qid, t in DRIVER_QUERIES.items()}
        rows = (idx.topk(qt_map, k=10, scorer="okapi",
                         k1=OKAPI_K1, b=OKAPI_B)
                .select("query_id", "doc_id",
                        _r6(F.col("score")).alias("score"),
                        F.col("rank").cast("long").alias("rn"))
                .collect())
        return spark.createDataFrame(
            rows, "query_id long, doc_id long, score double, rn long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_INCREMENTAL_OKAPI = f"""WITH
toks AS (
  SELECT doc_id, unnest({duckdb_tokens_sql('text', MODE)}) AS term
  FROM documents WHERE doc_id % 17 <> 0
),
{_XDOC},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(ln(1.0 + (ns.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * dl.dl / ns.avgdl))) AS score
  FROM q JOIN xdoc x USING (term) JOIN dfs USING (term)
       JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN nstats ns
  GROUP BY q.query_id, x.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_index_changes(spark, sf_dir):
    """Snapshot CDC (index/incremental.changes_between): docs added or
    deleted between as_of(1) and as_of(3) of the evens/odds/delete-17ths
    history — odd docs deleted inside the window net out; even 17ths
    (present at the base snapshot) surface as deletions."""
    import shutil

    idx, root = _evens_odds_del17_index(spark, sf_dir)
    try:
        rows = idx.changes_between(1, 3).collect()
        return spark.createDataFrame(rows, "doc_id long, change string")
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_INDEX_CHANGES = """SELECT doc_id, 'added' AS change FROM documents
WHERE doc_id % 2 = 1 AND doc_id % 17 <> 0
UNION ALL
SELECT doc_id, 'deleted' AS change FROM documents
WHERE doc_id % 2 = 0 AND doc_id % 17 = 0"""


SQL_INCREMENTAL_BM25 = f"""WITH
toks AS (
  SELECT doc_id, unnest({duckdb_tokens_sql('text', MODE)}) AS term
  FROM documents WHERE doc_id % 17 <> 0
),
{_XDOC},
{_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM q JOIN scores s USING (term) GROUP BY q.query_id, s.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_topic_sizes(spark, sf_dir):
    """A5: group sizes (reference Counter(topics), _bertopic.py:4461)."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


SQL_TOPIC_SIZES = (
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY lang"
)


def q_topics_per_class(spark, sf_dir):
    """A6: per-slice c-TF-IDF with frozen global idf (topics_per_class,
    reference _bertopic.py:996-1016) — one pass, no per-slice loop."""
    docs = _docs(spark, sf_dir)
    dt = doc_term_counts(docs, "text", ["lang", "source", "doc_id"], MODE)
    x_global = class_term_counts(dt, ["lang"])
    stats = term_stats(x_global, ["lang"], bm25_weighting=False)
    x_slice = class_term_counts(dt, ["lang", "source"])
    s = ctfidf(x_slice, ["lang", "source"], stats=stats)
    t = top_k_terms(s, ["lang", "source"], 3)
    return t.select(
        "lang", "source", "term", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_TOPICS_PER_CLASS = f"""WITH {_TOKS}, {_XCLS},
{_stats_sql('xcls', 'lang', False)},
xslice AS (
  SELECT lang, source, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY lang, source, term),
slen AS (
  SELECT lang, source, CAST(sum(tf) AS BIGINT) AS class_len
  FROM xslice GROUP BY lang, source),
scores AS (
  SELECT x.lang, x.source, x.term, (x.tf / slen.class_len) * idf.idf AS score
  FROM xslice x JOIN slen USING (lang, source) JOIN idf USING (term)),
ranked AS (
  SELECT lang, source, term, score,
         row_number() OVER (PARTITION BY lang, source ORDER BY score DESC, term ASC) AS rn
  FROM scores)
SELECT lang, source, term, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3"""


def q_topics_over_time(spark, sf_dir):
    """A6/F3: time-sliced c-TF-IDF (topics_over_time, _bertopic.py:797-954);
    deterministic synthetic slice = doc_id % 7 (FIXTURES.md §4 pattern)."""
    docs = _docs(spark, sf_dir).withColumn("slice_id", F.col("doc_id") % 7)
    dt = doc_term_counts(docs, "text", ["lang", "slice_id", "doc_id"], MODE)
    x_global = class_term_counts(dt, ["lang"])
    stats = term_stats(x_global, ["lang"], bm25_weighting=False)
    x_slice = class_term_counts(dt, ["slice_id", "lang"])
    s = ctfidf(x_slice, ["slice_id", "lang"], stats=stats)
    t = top_k_terms(s, ["slice_id", "lang"], 3)
    return t.select(
        "slice_id", "lang", "term", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_TOPICS_OVER_TIME = f"""WITH
toks AS (
  SELECT doc_id, lang, doc_id % 7 AS slice_id,
         unnest({duckdb_tokens_sql('text', MODE)}) AS term
  FROM documents),
xcls AS (
  SELECT lang, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY lang, term),
{_stats_sql('xcls', 'lang', False)},
xslice AS (
  SELECT slice_id, lang, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY slice_id, lang, term),
slen AS (
  SELECT slice_id, lang, CAST(sum(tf) AS BIGINT) AS class_len
  FROM xslice GROUP BY slice_id, lang),
scores AS (
  SELECT x.slice_id, x.lang, x.term, (x.tf / slen.class_len) * idf.idf AS score
  FROM xslice x JOIN slen USING (slice_id, lang) JOIN idf USING (term)),
ranked AS (
  SELECT slice_id, lang, term, score,
         row_number() OVER (PARTITION BY slice_id, lang ORDER BY score DESC, term ASC) AS rn
  FROM scores)
SELECT slice_id, lang, term, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3"""


NR_BINS_TOT = 5


def q_topics_over_time_binned(spark, sf_dir):
    """A6 + nr_bins: equal-width right-closed binning of a numeric
    timestamp column (pd.cut semantics, reference `_bertopic.py:878-880`;
    doc_id stands in for the epoch column) followed by time-sliced
    c-TF-IDF — the facade's ``topics_over_time(nr_bins=...)`` path."""
    from bertopic_spark.model import _bin_timestamps

    docs = _bin_timestamps(_docs(spark, sf_dir), "doc_id", NR_BINS_TOT)
    dt = doc_term_counts(docs, "text", ["lang", "doc_id_bin", "doc_id"], MODE)
    x_global = class_term_counts(dt, ["lang"])
    stats = term_stats(x_global, ["lang"], bm25_weighting=False)
    x_slice = class_term_counts(dt, ["doc_id_bin", "lang"])
    s = ctfidf(x_slice, ["doc_id_bin", "lang"], stats=stats)
    t = top_k_terms(s, ["doc_id_bin", "lang"], 3)
    return t.select(
        F.col("doc_id_bin").alias("ts_bin"), "lang", "term",
        _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"))


SQL_TOPICS_OVER_TIME_BINNED = f"""WITH
mm AS (SELECT min(CAST(doc_id AS DOUBLE)) AS mn, max(CAST(doc_id AS DOUBLE)) AS mx,
              CASE WHEN (max(CAST(doc_id AS DOUBLE)) - min(CAST(doc_id AS DOUBLE))) / {NR_BINS_TOT} = 0
                   THEN 1.0
                   ELSE (max(CAST(doc_id AS DOUBLE)) - min(CAST(doc_id AS DOUBLE))) / {NR_BINS_TOT}
              END AS w
       FROM documents),
binned AS (
  SELECT doc_id, lang, text,
         round(CASE WHEN b = 0 THEN mn - (mx - mn) * 0.001
                    ELSE mn + b * w END, 6) AS ts_bin
  FROM (
    SELECT d.doc_id, d.lang, d.text, mm.mn, mm.mx, mm.w,
           least(greatest(CAST(ceil((CAST(d.doc_id AS DOUBLE) - mm.mn) / mm.w) AS BIGINT) - 1, 0),
                 {NR_BINS_TOT - 1}) AS b
    FROM documents d CROSS JOIN mm)),
toks AS (SELECT doc_id, lang, ts_bin, unnest({duckdb_tokens_sql('text', MODE)}) AS term FROM binned),
xcls AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY lang, term),
{_stats_sql('xcls', 'lang', False)},
xslice AS (SELECT ts_bin, lang, term, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY ts_bin, lang, term),
slen AS (SELECT ts_bin, lang, CAST(sum(tf) AS BIGINT) AS class_len
         FROM xslice GROUP BY ts_bin, lang),
scores AS (
  SELECT x.ts_bin, x.lang, x.term, (x.tf / slen.class_len) * idf.idf AS score
  FROM xslice x JOIN slen USING (ts_bin, lang) JOIN idf USING (term)),
ranked AS (
  SELECT ts_bin, lang, term, score,
         row_number() OVER (PARTITION BY ts_bin, lang ORDER BY score DESC, term ASC) AS rn
  FROM scores)
SELECT ts_bin, lang, term, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3"""


def q_events_hourly(spark, sf_dir):
    """F3: tumbling time-window aggregation on the events stream table."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


SQL_EVENTS_HOURLY = (
    "SELECT date_trunc('hour', ts) AS hour_ts, event_type, "
    "CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value "
    "FROM events GROUP BY 1, 2"
)


DH_LO, DH_HI = "2023-12-31 12:00:00", "2024-01-31 06:00:00"


def q_date_histogram_dense(spark, sf_dir):
    """ES date_histogram with min_doc_count=0 + extended_bounds
    (operators/rollup.date_histogram): every calendar hour in the widened
    span is emitted per event_type — empties as zero rows — from one raw
    scan plus a bucket-sized spine join."""
    from bertopic_spark.operators.rollup import date_histogram

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = date_histogram(ev, "ts", "hour", keys=("event_type",),
                         value_col="value", min_doc_count=0,
                         extended_min=DH_LO, extended_max=DH_HI)
    return out.select("event_type", "bucket", "doc_count",
                      _r6(F.col("value_sum")).alias("value_sum"))


SQL_DATE_HISTOGRAM_DENSE = f"""WITH
agg AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(count(*) AS BIGINT) AS doc_count, sum(value) AS value_sum
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
spine AS (
  SELECT unnest(generate_series(
      date_trunc('hour', TIMESTAMP '{DH_LO}'),
      date_trunc('hour', TIMESTAMP '{DH_HI}'),
      INTERVAL 1 HOUR)) AS bucket),
ks AS (SELECT DISTINCT event_type FROM agg)
SELECT k.event_type, s.bucket,
       CAST(coalesce(a.doc_count, 0) AS BIGINT) AS doc_count,
       round(coalesce(a.value_sum, 0.0), 6) AS value_sum
FROM spine s CROSS JOIN ks k
LEFT JOIN agg a ON a.event_type = k.event_type AND a.bucket = s.bucket"""


def q_pricing_summary(spark, sf_dir):
    """Relational coverage (P6/A/W7): TPC-H Q1-style pricing summary."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""


# ---------------------------------------------------------------------------
# Training-data pipeline operators (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup via content digest (hash-groupBy)."""
    from bertopic_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir), "text", "doc_id")


SQL_DEDUP_EXACT = (
    "SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS dup_count, "
    "md5(text) AS digest FROM documents GROUP BY md5(text)"
)


def q_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by 2-gram Jaccard ≥ 0.2, with the "auto"
    heavy-shingle guard (same as the containment gate: stop-bigrams with
    df > max(256, 0.5% of docs) are dropped before the self-join — the
    m²-per-heavy-shingle cut; the oracle applies the identical guard)."""
    from bertopic_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_docs(spark, sf_dir), "text", "doc_id", n=2,
                         threshold=0.2, max_df="auto")


SQL_NGRAM_JACCARD = f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
sh0 AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS shingle
        FROM tk, unnest(generate_series(1, greatest(len(ts)-1, 0))) AS u(i)),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM sh0),
heavy AS (SELECT shingle FROM sh0 CROSS JOIN nd
          GROUP BY shingle, nd.n
          HAVING count(*) > greatest(256, CAST(ceil(0.005 * nd.n) AS BIGINT))),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM heavy)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS i
          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b, round(i / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE i / (sa.sz + sb.sz - i) >= 0.2"""


def q_minhash_signatures(spark, sf_dir):
    from bertopic_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_docs(spark, sf_dir), "text", "doc_id", num_perm=8)


def _sql_minhash(num_perm: int = 8, seed: int = 42, src: str = "documents") -> str:
    from bertopic_spark.operators.dedup import minhash_params

    params = minhash_params(num_perm, seed)
    sig_exprs = ", ".join(
        f"CAST(min((h * {a % 2147483647} + {b % 2147483647}) % 2147483647) AS BIGINT) AS sig_{i}"
        for i, (a, b) in enumerate(params)
    )
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM {src}),
sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS shingle
       FROM tk, unnest(generate_series(1, greatest(len(ts)-1, 0))) AS u(i)),
hs AS (SELECT doc_id,
       CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 2147483647 AS h
       FROM sh)
SELECT doc_id, {sig_exprs} FROM hs GROUP BY doc_id"""


def q_simhash(spark, sf_dir):
    from bertopic_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir), "text", "doc_id", bits=16)


def _sql_simhash(bits: int = 16) -> str:
    bit_cases = " + ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {j}) & 1 = 1 THEN tf ELSE -tf END) > 0 "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(bits)
    )
    return f"""WITH
tk AS (SELECT doc_id, unnest({duckdb_tokens_sql('text', MODE)}) AS term FROM documents),
x AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY doc_id, term),
hx AS (SELECT doc_id, tf, CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h FROM x)
SELECT doc_id, CAST({bit_cases} AS BIGINT) AS simhash FROM hx GROUP BY doc_id"""


SIMHASH_PAIR_BITS, SIMHASH_PAIR_BANDS, SIMHASH_PAIR_MAXHAM = 48, 4, 3


def q_simhash_pairs(spark, sf_dir):
    """Banded SimHash near-dup pairs — the scale path (candidates share a
    band; pigeonhole guarantees recall for hamming < bands)."""
    from bertopic_spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(
        _docs(spark, sf_dir), "text", "doc_id",
        SIMHASH_PAIR_BITS, SIMHASH_PAIR_BANDS, SIMHASH_PAIR_MAXHAM, MODE)


def _sql_simhash_pairs(bits: int = SIMHASH_PAIR_BITS,
                       bands: int = SIMHASH_PAIR_BANDS,
                       max_hamming: int = SIMHASH_PAIR_MAXHAM) -> str:
    width = bits // bands
    mask = (1 << width) - 1
    bit_cases = " + ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {j}) & 1 = 1 THEN tf ELSE -tf END) > 0 "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(bits)
    )
    return f"""WITH
tk AS (SELECT doc_id, unnest({duckdb_tokens_sql('text', MODE)}) AS term FROM documents),
x AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY doc_id, term),
hx AS (SELECT doc_id, tf, CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h FROM x),
sig AS (SELECT doc_id, CAST({bit_cases} AS BIGINT) AS simhash FROM hx GROUP BY doc_id),
bnd AS (SELECT doc_id, simhash, b.band, (simhash >> CAST(b.band * {width} AS INT)) & {mask} AS key
        FROM sig, range(0, {bands}) b(band)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b,
                a.simhash AS sa, bb.simhash AS sb
         FROM bnd a JOIN bnd bb
           ON a.band = bb.band AND a.key = bb.key AND a.doc_id < bb.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}"""


ANN_QUERY_IDS = [0, 1, 2, 3, 4]


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-10 (ANN baseline)."""
    from bertopic_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, ANN_QUERY_IDS, k=10)


_SQL_COS_CORE = """
v AS (SELECT vec_id, i - 1 AS dim, CAST(val AS DOUBLE) AS val
      FROM (SELECT vec_id, unnest(embedding) AS val, generate_subscripts(embedding, 1) AS i
            FROM embeddings)),
norms AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM v GROUP BY vec_id)"""


def _sql_ann(topk: int, bucketed: bool) -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    bucket_cte = """
buckets AS (
  SELECT vec_id, CAST(sum(CASE WHEN val > 0 THEN 1 << dim ELSE 0 END) AS BIGINT) AS bucket
  FROM v WHERE dim < 8 GROUP BY vec_id),"""
    bucket_join = "JOIN buckets ba ON ba.vec_id = d.vec_id JOIN buckets bq ON bq.vec_id = q.vec_id AND ba.bucket = bq.bucket" if bucketed else ""
    return f"""WITH {_SQL_COS_CORE},
{bucket_cte if bucketed else ''}
dots AS (
  SELECT q.vec_id AS query_vec_id, d.vec_id AS vec_id, sum(q.val * d.val) AS dot
  FROM v q JOIN v d ON q.dim = d.dim {bucket_join}
  WHERE q.vec_id IN ({ids}) AND d.vec_id != q.vec_id
  GROUP BY q.vec_id, d.vec_id),
sims AS (
  SELECT query_vec_id, dots.vec_id AS vec_id, dot / (nq.nrm * nd.nrm) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = query_vec_id
            JOIN norms nd ON nd.vec_id = dots.vec_id),
ranked AS (
  SELECT query_vec_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_vec_id ORDER BY cos DESC, vec_id ASC) AS rn
  FROM sims)
SELECT query_vec_id, vec_id, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {topk}"""


ANN_FILTER_LABELS = (3, 7)


def q_ann_filtered_topk(spark, sf_dir):
    """ES knn PRE-filtering: metadata predicate restricts the corpus side
    BEFORE any distance math (pushed to the scan), so top-k always returns
    k qualifying hits — never post-filter-starved."""
    from bertopic_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, ANN_QUERY_IDS, k=10,
                       where=F.col("label").isin(*ANN_FILTER_LABELS))


def _sql_ann_filtered(topk: int = 10) -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    labels = ", ".join(str(x) for x in ANN_FILTER_LABELS)
    return f"""WITH {_SQL_COS_CORE},
keep AS (SELECT vec_id FROM embeddings WHERE label IN ({labels})),
dots AS (
  SELECT q.vec_id AS query_vec_id, d.vec_id AS vec_id,
         sum(q.val * d.val) AS dot
  FROM v q JOIN v d ON q.dim = d.dim
  JOIN keep ON keep.vec_id = d.vec_id
  WHERE q.vec_id IN ({ids}) AND d.vec_id != q.vec_id
  GROUP BY q.vec_id, d.vec_id),
sims AS (
  SELECT query_vec_id, dots.vec_id AS vec_id, dot / (nq.nrm * nd.nrm) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = query_vec_id
            JOIN norms nd ON nd.vec_id = dots.vec_id),
ranked AS (
  SELECT query_vec_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_vec_id
                            ORDER BY cos DESC, vec_id ASC) AS rn
  FROM sims)
SELECT query_vec_id, vec_id, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {topk}"""


def q_ann_lsh_topk(spark, sf_dir):
    """Sign-LSH bucketed approximate cosine top-10 (the scale path)."""
    from bertopic_spark.operators.similarity import lsh_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_cosine_topk(emb, ANN_QUERY_IDS, k=10, n_bits=8)


RPLSH_PLANES, RPLSH_SEED = 8, 42


def q_ann_rplsh_topk(spark, sf_dir):
    """Random-hyperplane sign-LSH cosine top-10: real seeded hyperplanes
    (md5-derived coefficients, cross-engine) instead of leading-dim signs."""
    from bertopic_spark.operators.similarity import rplsh_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return rplsh_cosine_topk(emb, ANN_QUERY_IDS, k=10,
                             n_planes=RPLSH_PLANES, seed=RPLSH_SEED)


def _sql_ann_rplsh(topk: int = 10, n_planes: int = RPLSH_PLANES,
                   seed: int = RPLSH_SEED) -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""WITH {_SQL_COS_CORE},
coeff AS (
  SELECT p.plane, d.dim,
         (CAST(concat('0x', substr(md5(concat('{seed}_', CAST(p.plane AS VARCHAR), '_', CAST(d.dim AS VARCHAR))), 1, 8)) AS BIGINT) % 1000)
           / CAST(1000.0 AS DOUBLE) - 0.5 AS c
  FROM range(0, {n_planes}) p(plane), (SELECT DISTINCT dim FROM v) d),
ps AS (SELECT v.vec_id, c.plane, sum(v.val * c.c) AS s
       FROM v JOIN coeff c USING (dim) GROUP BY v.vec_id, c.plane),
rbuckets AS (
  SELECT vec_id, CAST(sum(CASE WHEN s > 0 THEN 1 << plane ELSE 0 END) AS BIGINT) AS bucket
  FROM ps GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS query_vec_id, d.vec_id AS vec_id, sum(q.val * d.val) AS dot
  FROM v q JOIN v d ON q.dim = d.dim
  JOIN rbuckets ba ON ba.vec_id = d.vec_id
  JOIN rbuckets bq ON bq.vec_id = q.vec_id AND ba.bucket = bq.bucket
  WHERE q.vec_id IN ({ids}) AND d.vec_id != q.vec_id
  GROUP BY q.vec_id, d.vec_id),
sims AS (
  SELECT query_vec_id, dots.vec_id AS vec_id, dot / (nq.nrm * nd.nrm) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = query_vec_id
            JOIN norms nd ON nd.vec_id = dots.vec_id),
ranked AS (
  SELECT query_vec_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_vec_id ORDER BY cos DESC, vec_id ASC) AS rn
  FROM sims)
SELECT query_vec_id, vec_id, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {topk}"""


RPLSH_TABLES = 4


def q_ann_rplsh_multitable(spark, sf_dir):
    """OR-amplified rp-LSH cosine top-10: 4 independent 8-plane hash
    tables; a candidate qualifies on a collision in ANY table and each
    (query, candidate) pair is scored once."""
    from bertopic_spark.operators.similarity import rplsh_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return rplsh_cosine_topk(emb, ANN_QUERY_IDS, k=10,
                             n_planes=RPLSH_PLANES, seed=RPLSH_SEED,
                             n_tables=RPLSH_TABLES)


def _sql_ann_rplsh_multi(topk: int = 10, n_planes: int = RPLSH_PLANES,
                         n_tables: int = RPLSH_TABLES,
                         seed: int = RPLSH_SEED) -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""WITH {_SQL_COS_CORE},
coeff AS (
  SELECT p.plane, d.dim,
         (CAST(concat('0x', substr(md5(concat('{seed}_', CAST(p.plane AS VARCHAR), '_', CAST(d.dim AS VARCHAR))), 1, 8)) AS BIGINT) % 1000)
           / CAST(1000.0 AS DOUBLE) - 0.5 AS c
  FROM range(0, {n_planes * n_tables}) p(plane), (SELECT DISTINCT dim FROM v) d),
ps AS (SELECT v.vec_id, c.plane, sum(v.val * c.c) AS s
       FROM v JOIN coeff c USING (dim) GROUP BY v.vec_id, c.plane),
rbuckets AS (
  SELECT vec_id, plane // {n_planes} AS tbl,
         CAST(sum(CASE WHEN s > 0 THEN 1 << (plane % {n_planes}) ELSE 0 END) AS BIGINT) AS bucket
  FROM ps GROUP BY vec_id, plane // {n_planes}),
cand AS (
  SELECT DISTINCT bq.vec_id AS query_vec_id, ba.vec_id AS vec_id
  FROM rbuckets bq JOIN rbuckets ba
    ON ba.tbl = bq.tbl AND ba.bucket = bq.bucket
  WHERE bq.vec_id IN ({ids}) AND ba.vec_id != bq.vec_id),
dots AS (
  SELECT c.query_vec_id, c.vec_id, sum(q.val * d.val) AS dot
  FROM cand c
  JOIN v q ON q.vec_id = c.query_vec_id
  JOIN v d ON d.vec_id = c.vec_id AND d.dim = q.dim
  GROUP BY c.query_vec_id, c.vec_id),
sims AS (
  SELECT query_vec_id, dots.vec_id AS vec_id, dot / (nq.nrm * nd.nrm) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = query_vec_id
            JOIN norms nd ON nd.vec_id = dots.vec_id),
ranked AS (
  SELECT query_vec_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_vec_id ORDER BY cos DESC, vec_id ASC) AS rn
  FROM sims)
SELECT query_vec_id, vec_id, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {topk}"""


def q_class_centroids(spark, sf_dir):
    """A7: per-label mean embedding (topic vectors)."""
    from bertopic_spark.operators.similarity import class_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return (
        class_centroids(emb, "label")
        .select(F.col("label").cast("long").alias("label"),
                F.col("dim").cast("long").alias("dim"), "mean_val", "n")
    )


SQL_CLASS_CENTROIDS = """
SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
       round(avg(val), 6) AS mean_val, CAST(count(*) AS BIGINT) AS n
FROM (SELECT label, unnest(embedding) AS val, generate_subscripts(embedding, 1) AS i
      FROM embeddings)
GROUP BY label, i"""


def q_token_stats(spark, sf_dir):
    from bertopic_spark.operators.textstats import token_stats

    return token_stats(_docs(spark, sf_dir), "text", "doc_id")


def q_repetition_stats(spark, sf_dir):
    """Gopher repetition filters (Rae et al. 2021 A1.1): duplicate-line
    fraction, duplicate-line char fraction, top-bigram char fraction."""
    from bertopic_spark.operators.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir), "text", "doc_id")


def _sql_repetition_stats() -> str:
    return f"""WITH lines AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents),
lg AS (SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY doc_id, line),
ls AS (SELECT doc_id, sum(cnt) AS n_lines, count(*) AS n_distinct,
              sum((cnt - 1) * length(line)) AS dup_chars,
              sum(cnt * length(line)) AS tot_chars
       FROM lg GROUP BY doc_id),
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
bgl AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS bg
        FROM tk),
bgc AS (SELECT doc_id, bg, count(*) AS cnt FROM bgl GROUP BY doc_id, bg),
top AS (SELECT doc_id, bg AS top_bigram, cnt AS top_cnt
        FROM bgc
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg ASC) = 1)
SELECT d.doc_id,
  CAST(coalesce(ls.n_lines, 0) AS BIGINT) AS n_lines,
  round(CASE WHEN ls.n_lines > 0
        THEN (ls.n_lines - ls.n_distinct) / CAST(ls.n_lines AS DOUBLE)
        ELSE 0 END, 6) AS dup_line_frac,
  round(CASE WHEN ls.tot_chars > 0
        THEN ls.dup_chars / CAST(ls.tot_chars AS DOUBLE)
        ELSE 0 END, 6) AS dup_line_char_frac,
  coalesce(top.top_bigram, '') AS top_bigram,
  round(CASE WHEN length(d.text) > 0 AND top.top_cnt IS NOT NULL
        THEN top.top_cnt * length(top.top_bigram) / CAST(length(d.text) AS DOUBLE)
        ELSE 0 END, 6) AS top_bigram_char_frac
FROM documents d
LEFT JOIN ls USING (doc_id)
LEFT JOIN top USING (doc_id)"""


def _sql_token_stats() -> str:
    from bertopic_spark.operators.textstats import STOPWORDS

    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""WITH tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents)
SELECT doc_id,
  CAST(len(ts) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
  round(CASE WHEN len(ts) > 0 THEN list_sum(list_transform(ts, t -> length(t))) * 1.0 / len(ts) ELSE 0.0 END, 6) AS avg_token_len,
  round(CASE WHEN len(ts) > 0 THEN len(list_filter(ts, t -> list_contains([{stop_list}], t))) * 1.0 / len(ts) ELSE 0.0 END, 6) AS stopword_ratio,
  round(CASE WHEN len(ts) > 0 THEN len(list_distinct(ts)) * 1.0 / len(ts) ELSE 0.0 END, 6) AS ttr
FROM tk"""


def q_quality_score(spark, sf_dir):
    from bertopic_spark.operators.textstats import quality_score

    return quality_score(_docs(spark, sf_dir), "text", "doc_id")


def _sql_quality_score() -> str:
    return f"""WITH tk AS (SELECT doc_id, text, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
s AS (SELECT doc_id,
        CAST(len(ts) AS BIGINT) AS n_tokens,
        CASE WHEN len(ts) > 0 THEN len(list_distinct(ts)) * 1.0 / len(ts) ELSE 0.0 END AS ttr,
        round(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0 /
              greatest(length(text), 1), 6) AS alpha_ratio
      FROM tk)
SELECT doc_id,
  round((CASE WHEN n_tokens < 5 THEN 0.2 WHEN n_tokens > 5000 THEN 0.5 ELSE 1.0 END)
        * (0.5 + 0.5 * ttr) * alpha_ratio, 6) AS quality
FROM s"""


def q_fingerprint(spark, sf_dir):
    from bertopic_spark.operators.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir), "text", "doc_id")


SQL_FINGERPRINT = f"""WITH tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents)
SELECT doc_id,
  CAST(list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(ts, t -> CAST(concat('0x', substr(md5(t), 1, 7)) AS BIGINT))),
    (a, b) -> (a * 31 + b) % 2147483647) AS BIGINT) AS fp
FROM tk"""


def q_assign_nearest_class(spark, sf_dir):
    """Nearest-class assignment (BERTopic transform analog / lang-ID)."""
    from bertopic_spark.operators.textstats import assign_nearest_class

    return assign_nearest_class(_docs(spark, sf_dir), "text", "doc_id", "lang")


SQL_ASSIGN_NEAREST = f"""WITH {_TOKS}, {_XCLS},
{_stats_sql('xcls', 'lang', False)},
scores AS (
  SELECT x.lang, x.term, (x.tf / clen.class_len) * idf.idf AS cls_score
  FROM xcls x JOIN clen USING (lang) JOIN idf USING (term)),
xdoc AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term),
dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM xdoc GROUP BY doc_id),
sims AS (
  SELECT d.doc_id, s.lang, sum((d.tf * 1.0 / dlen.doc_len) * s.cls_score) AS sim
  FROM xdoc d JOIN dlen USING (doc_id) JOIN scores s USING (term)
  GROUP BY d.doc_id, s.lang),
ranked AS (
  SELECT doc_id, lang, sim,
         row_number() OVER (PARTITION BY doc_id ORDER BY sim DESC, lang ASC) AS rn
  FROM sims)
SELECT doc_id, lang AS pred_class, round(sim, 6) AS score FROM ranked WHERE rn = 1"""


def q_transform_distribution(spark, sf_dir):
    """Soft assignment (calculate_probabilities=True, _bertopic.py:545-647):
    the full pre-argmax similarity distribution, L1-normalized per doc —
    gated through the facade so the public method is what's checked."""
    from bertopic_spark.model import BERTopicSpark

    d = _docs(spark, sf_dir)
    m = BERTopicSpark(class_cols=["lang"], mode=MODE).fit(d, "text", "doc_id")
    out = m.transform_distribution(d)
    return out.select("doc_id", "lang", _r6(F.col("prob")).alias("prob"))


SQL_TRANSFORM_DISTRIBUTION = f"""WITH {_TOKS}, {_XCLS},
{_stats_sql('xcls', 'lang', False)},
scores AS (
  SELECT x.lang, x.term, (x.tf / clen.class_len) * idf.idf AS cls_score
  FROM xcls x JOIN clen USING (lang) JOIN idf USING (term)),
xdoc AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term),
dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM xdoc GROUP BY doc_id),
sims AS (
  SELECT d.doc_id, s.lang, sum((d.tf * 1.0 / dlen.doc_len) * s.cls_score) AS sim
  FROM xdoc d JOIN dlen USING (doc_id) JOIN scores s USING (term)
  GROUP BY d.doc_id, s.lang),
tot AS (SELECT doc_id, sum(sim) AS total FROM sims GROUP BY doc_id)
SELECT s.doc_id, s.lang, round(s.sim / t.total, 6) AS prob
FROM sims s JOIN tot t USING (doc_id)"""


# ---------------------------------------------------------------------------
# Topic-surface operators (merge/info/search/representatives/tuning)
# ---------------------------------------------------------------------------

LANG_TOPIC = {"en": 0, "zh": 1, "es": 2, "de": 3, "fr": 4}
MERGE_MAPPING = {3: 2}  # merge 'de' into 'es'


def _docs_with_topic(spark, sf_dir):
    d = _docs(spark, sf_dir)
    m = F.create_map(*[F.lit(x) for kv in LANG_TOPIC.items() for x in kv])
    return d.withColumn("topic", m[F.col("lang")].cast("long"))


_SQL_TOPIC_CASE = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in LANG_TOPIC.items()
) + " END"


def q_topic_info(spark, sf_dir):
    """J1+F1: get_topic_info — (topic, count, label from top-4 terms)."""
    from bertopic_spark.operators.topics import topic_info

    d = _docs_with_topic(spark, sf_dir)
    dt = doc_term_counts(d, "text", ["topic", "doc_id"], MODE)
    x = class_term_counts(dt, ["topic"])
    topk = top_k_terms(ctfidf(x, ["topic"]), ["topic"], 10)
    return topic_info(d.select("topic", "doc_id"), topk)


SQL_TOPIC_INFO = f"""WITH
docs2 AS (SELECT doc_id, {_SQL_TOPIC_CASE} AS topic, text FROM documents),
toks AS (SELECT doc_id, topic, unnest({duckdb_tokens_sql('text', MODE)}) AS term FROM docs2),
xcls AS (SELECT topic, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY topic, term),
{_stats_sql('xcls', 'topic', False)},
scores AS (
  SELECT x.topic, x.term, (x.tf / clen.class_len) * idf.idf AS score
  FROM xcls x JOIN clen USING (topic) JOIN idf USING (term)),
ranked AS (
  SELECT topic, term, row_number() OVER (PARTITION BY topic ORDER BY score DESC, term ASC) AS rn
  FROM scores),
labels AS (
  SELECT topic, string_agg(term, '_' ORDER BY rn) AS label
  FROM ranked WHERE rn <= 4 GROUP BY topic),
sizes AS (SELECT topic, CAST(count(*) AS BIGINT) AS count FROM docs2 GROUP BY topic)
SELECT sizes.topic, count, label FROM sizes LEFT JOIN labels USING (topic)"""


def q_merged_topics_topk(spark, sf_dir):
    """J2 + re-agg: merge_topics then recompute c-TF-IDF, top-5 terms."""
    from bertopic_spark.operators.ctfidf import top_k_terms as _tk
    from bertopic_spark.operators.topics import merge_and_reaggregate

    d = _docs_with_topic(spark, sf_dir)
    dt = doc_term_counts(d, "text", ["topic", "doc_id"], MODE)
    s = merge_and_reaggregate(dt, MERGE_MAPPING, "topic")
    t = _tk(s, ["topic"], 5)
    return t.select("topic", "term", _r6(F.col("score")).alias("score"),
                    F.col("rank").cast("long").alias("rn"))


SQL_MERGED_TOPICS = f"""WITH
docs2 AS (SELECT doc_id,
  CASE WHEN ({_SQL_TOPIC_CASE}) = 3 THEN 2 ELSE ({_SQL_TOPIC_CASE}) END AS topic, text
  FROM documents),
toks AS (SELECT doc_id, topic, unnest({duckdb_tokens_sql('text', MODE)}) AS term FROM docs2),
xcls AS (SELECT topic, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY topic, term),
{_stats_sql('xcls', 'topic', False)},
scores AS (
  SELECT x.topic, x.term, (x.tf / clen.class_len) * idf.idf AS score
  FROM xcls x JOIN clen USING (topic) JOIN idf USING (term)),
ranked AS (
  SELECT topic, term, score,
         row_number() OVER (PARTITION BY topic ORDER BY score DESC, term ASC) AS rn
  FROM scores)
SELECT topic, term, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 5"""


FIND_TOPICS_QUERY = "table scan merge sort"


def q_find_topics(spark, sf_dir):
    """W4: find_topics — classes ranked by query↔class c-TF-IDF cosine."""
    from bertopic_spark.operators.topics import find_topics

    x = _cls_x(spark, sf_dir)
    s = ctfidf(x, ["lang"])
    t = find_topics(s, FIND_TOPICS_QUERY, ["lang"], top_n=5)
    return t.select("lang", _r6(F.col("sim")).alias("sim"))


def _sql_find_topics() -> str:
    terms = sorted(set(tokenize_one(FIND_TOPICS_QUERY, MODE)))
    vals = ", ".join(f"('{t}')" for t in terms)
    qnorm = float(len(terms)) ** 0.5
    return f"""WITH {_TOKS}, {_XCLS},
{_stats_sql('xcls', 'lang', False)},
scores AS (
  SELECT x.lang, x.term, (x.tf / clen.class_len) * idf.idf AS score
  FROM xcls x JOIN clen USING (lang) JOIN idf USING (term)),
l2 AS (SELECT lang, sqrt(sum(score * score)) AS l2 FROM scores GROUP BY lang),
q(term) AS (VALUES {vals})
SELECT scores.lang, round(sum(score / l2.l2) / {qnorm!r}, 6) AS sim
FROM scores JOIN q USING (term) JOIN l2 ON l2.lang = scores.lang
GROUP BY scores.lang
ORDER BY sim DESC, scores.lang ASC LIMIT 5"""


def q_representative_docs(spark, sf_dir):
    """W9+W5: top-3 representative docs per class by doc↔class score."""
    from bertopic_spark.operators.topics import representative_docs

    d = _docs(spark, sf_dir)
    dt = doc_term_counts(d, "text", ["lang", "doc_id"], MODE)
    x = class_term_counts(dt, ["lang"])
    s = ctfidf(x, ["lang"])
    return representative_docs(dt, s, ["lang"], n_docs=3, sample_cap=10**9)


SQL_REPRESENTATIVE_DOCS = f"""WITH {_TOKS}, {_XCLS},
{_stats_sql('xcls', 'lang', False)},
scores AS (
  SELECT x.lang, x.term, (x.tf / clen.class_len) * idf.idf AS score
  FROM xcls x JOIN clen USING (lang) JOIN idf USING (term)),
xdl AS (SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, lang, term),
dlen AS (SELECT doc_id, lang, CAST(sum(tf) AS BIGINT) AS doc_len
         FROM xdl GROUP BY doc_id, lang),
sims AS (
  SELECT d.lang, d.doc_id, sum((d.tf / dl.doc_len) * s.score) AS sim
  FROM xdl d JOIN dlen dl ON dl.doc_id = d.doc_id AND dl.lang = d.lang
             JOIN scores s ON s.lang = d.lang AND s.term = d.term
  GROUP BY d.lang, d.doc_id),
ranked AS (
  SELECT lang, doc_id, sim,
         row_number() OVER (PARTITION BY lang ORDER BY sim DESC, doc_id ASC) AS rank
  FROM sims)
SELECT lang, doc_id, round(sim, 6) AS sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3"""


def q_evolution_tuned_over_time(spark, sf_dir):
    """J5: topics_over_time with evolution tuning (lag-slice averaging)."""
    from bertopic_spark.operators.topics import evolution_tuning

    docs = _docs(spark, sf_dir).withColumn("slice_id", F.col("doc_id") % 5)
    dt = doc_term_counts(docs, "text", ["lang", "slice_id", "doc_id"], MODE)
    x_global = class_term_counts(dt, ["lang"])
    stats = term_stats(x_global, ["lang"], bm25_weighting=False)
    x_slice = class_term_counts(dt, ["slice_id", "lang"])
    s = ctfidf(x_slice, ["slice_id", "lang"], stats=stats)
    tuned = evolution_tuning(s, "slice_id", ["lang"])
    t = top_k_terms(tuned, ["slice_id", "lang"], 3)
    return t.select("slice_id", "lang", "term", _r6(F.col("score")).alias("score"),
                    F.col("rank").cast("long").alias("rn"))


SQL_EVOLUTION_TUNED = f"""WITH
toks AS (
  SELECT doc_id, lang, doc_id % 5 AS slice_id,
         unnest({duckdb_tokens_sql('text', MODE)}) AS term
  FROM documents),
xcls AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY lang, term),
{_stats_sql('xcls', 'lang', False)},
xslice AS (SELECT slice_id, lang, term, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY slice_id, lang, term),
slen AS (SELECT slice_id, lang, CAST(sum(tf) AS BIGINT) AS class_len
         FROM xslice GROUP BY slice_id, lang),
scores AS (
  SELECT x.slice_id, x.lang, x.term, (x.tf / slen.class_len) * idf.idf AS score
  FROM xslice x JOIN slen USING (slice_id, lang) JOIN idf USING (term)),
tuned AS (
  SELECT s.slice_id, s.lang, s.term,
         CASE WHEN p.score IS NOT NULL THEN (s.score + p.score) / 2.0 ELSE s.score END AS score
  FROM scores s LEFT JOIN scores p
    ON p.slice_id = s.slice_id - 1 AND p.lang = s.lang AND p.term = s.term),
ranked AS (
  SELECT slice_id, lang, term, score,
         row_number() OVER (PARTITION BY slice_id, lang ORDER BY score DESC, term ASC) AS rn
  FROM tuned)
SELECT slice_id, lang, term, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3"""


def q_mmr_topk(spark, sf_dir):
    """W8/X6: MMR diversity re-rank of per-class top terms.

    The greedy argmax loop IS SQL-expressible at fixed k: the oracle unrolls
    it into k chained CTEs (see ``_sql_mmr_topk``). Relevance is rounded to
    6dp on BOTH sides before the loop so the argmax comparisons see
    bit-identical doubles across engines (trigram-Jaccard sims are exact
    small-int ratios already)."""
    from bertopic_spark.operators.topics import mmr_rerank

    x = _cls_x(spark, sf_dir)
    topk = top_k_terms(ctfidf(x, ["lang"]), ["lang"], 10).withColumn(
        "score", _r6(F.col("score")))
    out = mmr_rerank(topk, ["lang"], k=5, diversity=0.3)
    return out.select("lang", "term", "score", "mmr_rank")


def _sql_mmr_topk(k: int = 5, diversity: float = 0.3, n_cand: int = 10) -> str:
    """Unrolled greedy MMR in DuckDB: step i picks, per class, the unselected
    candidate maximizing (1-λ)·rel − λ·max-trigram-Jaccard-to-selected, ties
    on term asc — exactly ``mmr_rerank``'s loop. λ weights are interpolated
    via repr() so both engines multiply the same doubles. Every step reads
    all earlier steps, so the chain is MATERIALIZED: inlined, DuckDB
    re-evaluates it exponentially often in k."""
    w_rel, w_div = repr(1 - diversity), repr(diversity)
    parts = [f"""WITH {_TOKS}, {_XCLS}, {_scores_sql('xcls', 'lang', False, False)},
cand AS MATERIALIZED (
  SELECT lang, term, round(score, 6) AS score FROM (
    SELECT lang, term, score,
           row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rn
    FROM scores) WHERE rn <= {n_cand}),
grams AS (
  SELECT lang, term,
         list_distinct(list_transform(range(1, length('  ' || term || ' ') - 1),
             x -> substr('  ' || term || ' ', CAST(x AS INT), 3))) AS g
  FROM cand),
sims AS MATERIALIZED (
  SELECT a.lang, a.term AS ta, b.term AS tb,
         CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
           / greatest(len(list_distinct(list_concat(a.g, b.g))), 1) AS sim
  FROM grams a JOIN grams b ON a.lang = b.lang AND a.term <> b.term),
sel1 AS MATERIALIZED (
  SELECT lang, term, 1 AS mmr_rank FROM (
    SELECT lang, term,
           row_number() OVER (PARTITION BY lang
             ORDER BY CAST({w_rel} AS DOUBLE) * score DESC, term ASC) AS rn
    FROM cand) WHERE rn = 1)"""]
    for i in range(2, k + 1):
        prev = " UNION ALL ".join(f"SELECT lang, term FROM sel{j}" for j in range(1, i))
        parts.append(f""",
selu{i - 1} AS ({prev}),
msi{i} AS (
  SELECT s.lang, s.ta AS term, max(s.sim) AS msim
  FROM sims s JOIN selu{i - 1} p ON p.lang = s.lang AND p.term = s.tb
  GROUP BY s.lang, s.ta),
sel{i} AS MATERIALIZED (
  SELECT lang, term, {i} AS mmr_rank FROM (
    SELECT c.lang, c.term,
           row_number() OVER (PARTITION BY c.lang
             ORDER BY CAST({w_rel} AS DOUBLE) * c.score
                      - CAST({w_div} AS DOUBLE) * m.msim DESC, c.term ASC) AS rn
    FROM cand c
    JOIN msi{i} m ON m.lang = c.lang AND m.term = c.term
    WHERE NOT EXISTS (SELECT 1 FROM selu{i - 1} p
                      WHERE p.lang = c.lang AND p.term = c.term)
  ) WHERE rn = 1)""")
    final = " UNION ALL ".join(f"SELECT * FROM sel{j}" for j in range(1, k + 1))
    parts.append(f"""
SELECT c.lang, c.term, c.score, CAST(s.mmr_rank AS BIGINT) AS mmr_rank
FROM ({final}) s JOIN cand c ON c.lang = s.lang AND c.term = s.term""")
    return "".join(parts)


N_LANG_TOPICS = len(LANG_TOPIC)  # leaves of the hierarchy gate query

OUTLIER_MOD = 7          # doc_id % 7 == 0 → synthetic outlier (-1)
DIST_WIN, DIST_STRIDE = 4, 2
OUTLIER_THRESHOLD = 0.001


def q_reduce_outliers(spark, sf_dir):
    """P4 + reduce_outliers (ctfidf strategy): re-assign synthetic outliers
    (doc_id % 7 == 0) against the model fitted on the non-outlier slice;
    docs under the threshold stay at −1."""
    from bertopic_spark.operators.outliers import reduce_outliers

    d = _docs_with_topic(spark, sf_dir).withColumn(
        "topic",
        F.when(F.col("doc_id") % OUTLIER_MOD == 0, F.lit(-1))
        .otherwise(F.col("topic")).cast("long"))
    keep = d.filter(F.col("topic") != -1)
    dt = doc_term_counts(keep, "text", ["topic", "doc_id"], MODE)
    x = class_term_counts(dt, ["topic"])
    s = ctfidf(x, ["topic"])
    return reduce_outliers(d, s, "text", "doc_id", "topic", "ctfidf",
                           threshold=OUTLIER_THRESHOLD, mode=MODE)


SQL_REDUCE_OUTLIERS = f"""WITH
docs2 AS (SELECT doc_id,
                 CASE WHEN doc_id % {OUTLIER_MOD} = 0 THEN -1
                      ELSE {_SQL_TOPIC_CASE} END AS topic,
                 text FROM documents),
keepd AS (SELECT * FROM docs2 WHERE topic <> -1),
toks AS (SELECT doc_id, topic, unnest({duckdb_tokens_sql('text', MODE)}) AS term FROM keepd),
xcls AS (SELECT topic, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY topic, term),
{_stats_sql('xcls', 'topic', False)},
scores AS (
  SELECT x.topic, x.term, (x.tf / clen.class_len) * idf.idf AS score
  FROM xcls x JOIN clen USING (topic) JOIN idf USING (term)),
od AS (SELECT doc_id, text FROM docs2 WHERE topic = -1),
otoks AS (SELECT doc_id, unnest({duckdb_tokens_sql('text', MODE)}) AS term FROM od),
xdoc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM otoks GROUP BY doc_id, term),
dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS doc_len FROM xdoc GROUP BY doc_id),
sims AS (
  SELECT d.doc_id, s.topic,
         round(sum((d.tf * 1.0 / dlen.doc_len) * s.score), 6) AS sim
  FROM xdoc d JOIN dlen USING (doc_id) JOIN scores s USING (term)
  GROUP BY d.doc_id, s.topic),
ranked AS (
  SELECT doc_id, topic, sim,
         row_number() OVER (PARTITION BY doc_id ORDER BY sim DESC, topic ASC) AS rn
  FROM sims),
assigned AS (SELECT doc_id, topic FROM ranked
             WHERE rn = 1 AND sim >= {OUTLIER_THRESHOLD})
SELECT doc_id, CAST(topic AS BIGINT) AS topic FROM keepd
UNION ALL
SELECT o.doc_id, CAST(coalesce(a.topic, -1) AS BIGINT) AS topic
FROM od o LEFT JOIN assigned a USING (doc_id)"""


def q_reduce_outliers_dist(spark, sf_dir):
    """reduce_outliers 'distributions' strategy (reference
    `_bertopic.py:2430-2460`): sliding-window topic mass over the outlier
    slice, per-doc argmax of the L1-normalized distribution."""
    from bertopic_spark.operators.outliers import reduce_outliers

    d = _docs_with_topic(spark, sf_dir).withColumn(
        "topic",
        F.when(F.col("doc_id") % OUTLIER_MOD == 0, F.lit(-1))
        .otherwise(F.col("topic")).cast("long"))
    keep = d.filter(F.col("topic") != -1)
    dt = doc_term_counts(keep, "text", ["topic", "doc_id"], MODE)
    x = class_term_counts(dt, ["topic"])
    s = ctfidf(x, ["topic"])
    return reduce_outliers(d, s, "text", "doc_id", "topic", "distributions",
                           threshold=OUTLIER_THRESHOLD, mode=MODE,
                           window=DIST_WIN, stride=DIST_STRIDE)


SQL_REDUCE_OUTLIERS_DIST = f"""WITH
docs2 AS (SELECT doc_id,
                 CASE WHEN doc_id % {OUTLIER_MOD} = 0 THEN -1
                      ELSE {_SQL_TOPIC_CASE} END AS topic,
                 text FROM documents),
keepd AS (SELECT * FROM docs2 WHERE topic <> -1),
toks AS (SELECT doc_id, topic, unnest({duckdb_tokens_sql('text', MODE)}) AS term FROM keepd),
xcls AS (SELECT topic, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY topic, term),
{_stats_sql('xcls', 'topic', False)},
scores AS (
  SELECT x.topic, x.term, (x.tf / clen.class_len) * idf.idf AS score
  FROM xcls x JOIN clen USING (topic) JOIN idf USING (term)),
od AS (SELECT doc_id, text FROM docs2 WHERE topic = -1),
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM od),
wins AS (
  SELECT doc_id, w,
         unnest(list_slice(ts, w * {DIST_STRIDE} + 1, w * {DIST_STRIDE} + {DIST_WIN})) AS term
  FROM tk, unnest(generate_series(0,
       greatest(CAST(floor((len(ts) - {DIST_WIN}) / {DIST_STRIDE}.0) AS BIGINT), 0))) AS g(w)),
mass AS (
  SELECT wins.doc_id, s.topic, sum(s.score) AS mass
  FROM wins JOIN scores s USING (term)
  GROUP BY wins.doc_id, s.topic),
tot AS (SELECT doc_id, sum(mass) AS total FROM mass GROUP BY doc_id),
sims AS (SELECT mass.doc_id, topic, round(mass / tot.total, 6) AS sim
         FROM mass JOIN tot USING (doc_id)),
ranked AS (
  SELECT doc_id, topic, sim,
         row_number() OVER (PARTITION BY doc_id ORDER BY sim DESC, topic ASC) AS rn
  FROM sims),
assigned AS (SELECT doc_id, topic FROM ranked
             WHERE rn = 1 AND sim >= {OUTLIER_THRESHOLD})
SELECT doc_id, CAST(topic AS BIGINT) AS topic FROM keepd
UNION ALL
SELECT o.doc_id, CAST(coalesce(a.topic, -1) AS BIGINT) AS topic
FROM od o LEFT JOIN assigned a USING (doc_id)"""


def q_hierarchical_topics(spark, sf_dir):
    """Linkage tree (single linkage over 1−cosine of class c-TF-IDF rows);
    reference `hierarchical_topics` shape: one row per internal node."""
    from bertopic_spark.operators.topics import hierarchical_topics

    d = _docs_with_topic(spark, sf_dir)
    dt = doc_term_counts(d, "text", ["topic", "doc_id"], MODE)
    x = class_term_counts(dt, ["topic"])
    s = ctfidf(x, ["topic"]).persist()  # two internal scans → one pipeline run
    try:
        return hierarchical_topics(s, "topic")
    finally:
        s.unpersist()


def q_hierarchy_level_topics(spark, sf_dir):
    """Leaf→cluster assignment at EVERY cut level of the linkage tree —
    the per-level topic sets behind the reference's
    ``visualize_hierarchical_documents`` (`_bertopic.py:3080-3240`)."""
    from bertopic_spark.operators.topics import hierarchical_topics
    from bertopic_spark.operators.viz import hierarchy_level_assignments

    d = _docs_with_topic(spark, sf_dir)
    dt = doc_term_counts(d, "text", ["topic", "doc_id"], MODE)
    x = class_term_counts(dt, ["topic"])
    # hierarchical_topics scans its input twice (distinct classes + pair
    # distances); persist so the tokenize+agg pipeline runs once. The
    # returned tree is driver-local, so releasing immediately is safe.
    s = ctfidf(x, ["topic"]).persist()
    try:
        hier = hierarchical_topics(s, "topic")
    finally:
        s.unpersist()
    return hierarchy_level_assignments(
        hier, N_LANG_TOPICS, range(1, N_LANG_TOPICS))


def _sql_hier_cte(n_leaves: int = N_LANG_TOPICS) -> str:
    """The WITH-chain of the unrolled single-linkage agglomeration:
    n_leaves−1 merge steps, each = argmin pair (ties (d, a, b) asc) +
    min-rule distance update + membership relabel (``mem{i}``). Distances
    round to 6dp before any comparison, mirroring
    ``class_pair_distances``. ``dist{i}`` reads ``dist{i-1}`` twice, so
    the chain is MATERIALIZED (inlined, it doubles per step). Shared by the linkage-tree oracle
    (`_sql_hierarchical`) and the per-level assignment oracle
    (`_sql_hierarchy_levels`)."""
    parts = [f"""WITH
docs2 AS (SELECT doc_id, {_SQL_TOPIC_CASE} AS topic, text FROM documents),
toks AS (SELECT doc_id, topic, unnest({duckdb_tokens_sql('text', MODE)}) AS term FROM docs2),
xcls AS (SELECT topic, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY topic, term),
{_stats_sql('xcls', 'topic', False)},
scores AS (
  SELECT x.topic, x.term, (x.tf / clen.class_len) * idf.idf AS score
  FROM xcls x JOIN clen USING (topic) JOIN idf USING (term)),
l2 AS (SELECT topic, sqrt(sum(score * score)) AS nrm FROM scores GROUP BY topic),
nrmd AS (SELECT s.topic, s.term, s.score / l2.nrm AS v
         FROM scores s JOIN l2 USING (topic)),
cosr AS (SELECT a.topic AS ta, b.topic AS tb, sum(a.v * b.v) AS cos
         FROM nrmd a JOIN nrmd b ON a.term = b.term AND a.topic < b.topic
         GROUP BY a.topic, b.topic),
tl AS (SELECT DISTINCT topic FROM xcls),
dist0 AS MATERIALIZED (
  SELECT x.topic AS a, y.topic AS b, round(1.0 - coalesce(c.cos, 0.0), 6) AS d
  FROM tl x JOIN tl y ON x.topic < y.topic
  LEFT JOIN cosr c ON c.ta = x.topic AND c.tb = y.topic),
mem0 AS (SELECT topic AS cluster, topic AS leaf FROM tl)"""]
    for i in range(1, n_leaves):
        nid = n_leaves + i - 1
        parts.append(f""",
m{i} AS (SELECT a, b, d FROM dist{i - 1} ORDER BY d, a, b LIMIT 1),
dist{i} AS MATERIALIZED (
  SELECT p.a, p.b, p.d FROM dist{i - 1} p, m{i}
  WHERE p.a NOT IN (m{i}.a, m{i}.b) AND p.b NOT IN (m{i}.a, m{i}.b)
  UNION ALL
  SELECT q.c AS a, {nid} AS b, min(q.d) AS d FROM (
    SELECT CASE WHEN p.a IN (m{i}.a, m{i}.b) THEN p.b ELSE p.a END AS c, p.d
    FROM dist{i - 1} p, m{i}
    WHERE (p.a IN (m{i}.a, m{i}.b)) <> (p.b IN (m{i}.a, m{i}.b))
  ) q GROUP BY q.c),
mem{i} AS MATERIALIZED (
  SELECT CASE WHEN m.cluster IN (m{i}.a, m{i}.b) THEN {nid} ELSE m.cluster END AS cluster,
         m.leaf
  FROM mem{i - 1} m, m{i})""")
    return "".join(parts)


def _sql_hierarchical(n_leaves: int = N_LANG_TOPICS) -> str:
    """Linkage-tree relation from the shared merge chain: one row per
    internal node, scipy convention."""
    outs = []
    for i in range(1, n_leaves):
        nid = n_leaves + i - 1
        outs.append(f"""
SELECT CAST({nid} AS BIGINT) AS parent_id, CAST(m{i}.a AS BIGINT) AS child_left,
       CAST(m{i}.b AS BIGINT) AS child_right, m{i}.d AS distance,
       (SELECT string_agg(CAST(leaf AS VARCHAR), ',' ORDER BY leaf)
        FROM mem{i} WHERE cluster = {nid}) AS topics
FROM m{i}""")
    return _sql_hier_cte(n_leaves) + " UNION ALL ".join(outs)


def _sql_hierarchy_levels(n_leaves: int = N_LANG_TOPICS) -> str:
    """Per-level leaf→cluster assignment straight off the merge chain's
    ``mem{m}`` memberships: after m merges, each leaf labels with the MIN
    leaf of its cluster (the same rule as
    ``viz.hierarchy_level_assignments``)."""
    outs = []
    for m in range(1, n_leaves):
        outs.append(f"""
SELECT CAST({m} AS INTEGER) AS level, CAST(leaf AS BIGINT) AS leaf,
       CAST(min(leaf) OVER (PARTITION BY cluster) AS BIGINT) AS topic_at_level
FROM mem{m}""")
    return _sql_hier_cte(n_leaves) + " UNION ALL ".join(outs)


KB_DIM = 16


def q_keybert_topk(spark, sf_dir):
    """X6 KeyBERT-inspired re-rank: cosine between deterministic md5 word
    vectors and the score-weighted topic vector (embedder is the documented
    hash stand-in; structure = embed → topic vec → cosine re-rank)."""
    from bertopic_spark.operators.representation import keybert_rerank

    x = _cls_x(spark, sf_dir)
    topk = top_k_terms(ctfidf(x, ["lang"]), ["lang"], 10).withColumn(
        "score", _r6(F.col("score")))
    return keybert_rerank(topk, ["lang"], dim=KB_DIM)


SQL_KEYBERT = f"""WITH {_TOKS}, {_XCLS}, {_scores_sql('xcls', 'lang', False, False)},
cand AS (
  SELECT lang, term, round(score, 6) AS score FROM (
    SELECT lang, term, score,
           row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rn
    FROM scores) WHERE rn <= 10),
wv AS (
  SELECT c.term, d.dim,
         (CAST(concat('0x', substr(md5(c.term || '_' || CAST(d.dim AS VARCHAR)), 1, 8)) AS BIGINT) % 1000)
           / CAST(1000.0 AS DOUBLE) - 0.5 AS val
  FROM (SELECT DISTINCT term FROM cand) c, range(0, {KB_DIM}) d(dim)),
tv AS (
  SELECT c.lang, w.dim, sum(c.score * w.val) / sum(c.score) AS tv
  FROM cand c JOIN wv w USING (term) GROUP BY c.lang, w.dim),
tn AS (SELECT lang, sqrt(sum(tv * tv)) AS tnorm FROM tv GROUP BY lang),
pt AS (
  SELECT c.lang, c.term, sum(w.val * t.tv) AS num, sqrt(sum(w.val * w.val)) AS wnorm
  FROM cand c JOIN wv w USING (term)
  JOIN tv t ON t.lang = c.lang AND t.dim = w.dim
  GROUP BY c.lang, c.term),
sc AS (SELECT p.lang, p.term, round(p.num / (p.wnorm * tn.tnorm), 6) AS kb_score
       FROM pt p JOIN tn USING (lang))
SELECT lang, term, kb_score,
       CAST(row_number() OVER (PARTITION BY lang ORDER BY kb_score DESC, term ASC) AS BIGINT) AS kb_rank
FROM sc"""

POS_PATTERN = "^[a-z]{4,}$"


def q_pos_filter_topk(spark, sf_dir):
    """X6 PartOfSpeech analog: regex-pattern filter over candidates, ranks
    refilled from the surviving (score desc, term asc) order."""
    from bertopic_spark.operators.representation import pos_pattern_rerank

    x = _cls_x(spark, sf_dir)
    topk = top_k_terms(ctfidf(x, ["lang"]), ["lang"], 10).withColumn(
        "score", _r6(F.col("score")))
    return pos_pattern_rerank(topk, ["lang"], patterns=(POS_PATTERN,), top_n=5)


SQL_POS_FILTER = f"""WITH {_TOKS}, {_XCLS}, {_scores_sql('xcls', 'lang', False, False)},
cand AS (
  SELECT lang, term, round(score, 6) AS score FROM (
    SELECT lang, term, score,
           row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rn
    FROM scores) WHERE rn <= 10),
kept AS (SELECT * FROM cand WHERE regexp_matches(term, '{POS_PATTERN}')),
ranked AS (
  SELECT lang, term, score,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS BIGINT) AS pos_rank
  FROM kept)
SELECT lang, term, score, pos_rank FROM ranked WHERE pos_rank <= 5"""


# ---------------------------------------------------------------------------
# Distribution / sampling / split / scatter / set ops / seeded idf
# ---------------------------------------------------------------------------

def q_approx_distribution(spark, sf_dir):
    """T4: sliding-window topic distribution per doc (approximate_distribution)."""
    from bertopic_spark.operators.distribution import approximate_distribution

    d = _docs(spark, sf_dir)
    x = _cls_x(spark, sf_dir)
    s = ctfidf(x, ["lang"])
    out = approximate_distribution(d, s, ["lang"], "text", "doc_id",
                                   DIST_WIN, DIST_STRIDE)
    return out.select("doc_id", "lang", _r6(F.col("weight")).alias("weight"))


SQL_APPROX_DISTRIBUTION = f"""WITH {_TOKS}, {_XCLS},
{_stats_sql('xcls', 'lang', False)},
scores AS (
  SELECT x.lang, x.term, (x.tf / clen.class_len) * idf.idf AS score
  FROM xcls x JOIN clen USING (lang) JOIN idf USING (term)),
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
wins AS (
  SELECT doc_id, w,
         unnest(list_slice(ts, w * {DIST_STRIDE} + 1, w * {DIST_STRIDE} + {DIST_WIN})) AS term
  FROM tk, unnest(generate_series(0,
       greatest(CAST(floor((len(ts) - {DIST_WIN}) / {DIST_STRIDE}.0) AS BIGINT), 0))) AS g(w)),
mass AS (
  SELECT wins.doc_id, s.lang, sum(s.score) AS mass
  FROM wins JOIN scores s USING (term)
  GROUP BY wins.doc_id, s.lang),
tot AS (SELECT doc_id, sum(mass) AS total FROM mass GROUP BY doc_id)
SELECT mass.doc_id, lang, round(mass / tot.total, 6) AS weight
FROM mass JOIN tot USING (doc_id)"""


def q_approx_distribution_tokens(spark, sf_dir):
    """T4 token path (calculate_tokens=True, _bertopic.py:1374-1404): each
    token position accumulates the mass of every window containing it;
    unnormalized, long-form sparse."""
    from bertopic_spark.operators.distribution import (
        approximate_distribution_tokens)

    d = _docs(spark, sf_dir)
    x = _cls_x(spark, sf_dir)
    s = ctfidf(x, ["lang"])
    out = approximate_distribution_tokens(d, s, ["lang"], "text", "doc_id",
                                          DIST_WIN, DIST_STRIDE)
    return out.select("doc_id", F.col("token_pos").cast("long").alias("token_pos"),
                      "term", "lang", _r6(F.col("weight")).alias("weight"))


SQL_APPROX_DISTRIBUTION_TOKENS = f"""WITH {_TOKS}, {_XCLS},
{_stats_sql('xcls', 'lang', False)},
scores AS (
  SELECT x.lang, x.term, (x.tf / clen.class_len) * idf.idf AS score
  FROM xcls x JOIN clen USING (lang) JOIN idf USING (term)),
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
wins AS (
  SELECT doc_id, w,
         list_slice(ts, w * {DIST_STRIDE} + 1, w * {DIST_STRIDE} + {DIST_WIN}) AS wt
  FROM tk, unnest(generate_series(0,
       greatest(CAST(floor((len(ts) - {DIST_WIN}) / {DIST_STRIDE}.0) AS BIGINT), 0))) AS g(w)
  WHERE len(list_slice(ts, w * {DIST_STRIDE} + 1, w * {DIST_STRIDE} + {DIST_WIN})) > 0),
wterm AS (SELECT doc_id, w, unnest(wt) AS term FROM wins),
wmass AS (
  SELECT wterm.doc_id, wterm.w, s.lang, sum(s.score) AS mass
  FROM wterm JOIN scores s USING (term)
  GROUP BY wterm.doc_id, wterm.w, s.lang),
pos AS (
  SELECT doc_id, w, w * {DIST_STRIDE} + i - 1 AS token_pos, wt[i] AS term
  FROM wins, unnest(generate_series(1, len(wt))) AS g(i))
SELECT p.doc_id, CAST(p.token_pos AS BIGINT) AS token_pos, p.term, m.lang,
       round(sum(m.mass), 6) AS weight
FROM pos p JOIN wmass m ON m.doc_id = p.doc_id AND m.w = p.w
GROUP BY p.doc_id, p.token_pos, p.term, m.lang"""


def q_seeded_sample(spark, sf_dir):
    """W9: deterministic per-class sample cap (seeded, oracle-reproducible)."""
    from bertopic_spark.operators.distribution import seeded_sample_per_class

    d = _docs(spark, sf_dir).select("lang", "doc_id")
    return seeded_sample_per_class(d, ["lang"], "doc_id", n=20, seed=42)


SQL_SEEDED_SAMPLE = """
SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(concat('42', '_', CAST(doc_id AS VARCHAR))), doc_id) AS r
  FROM documents) WHERE r <= 20"""


def q_zero_shot_split(spark, sf_dir):
    """P2: threshold split + dense re-ID of both halves."""
    from bertopic_spark.operators.distribution import zero_shot_split
    from bertopic_spark.operators.textstats import assign_nearest_class

    sims = assign_nearest_class(_docs(spark, sf_dir), "text", "doc_id", "lang")
    hit, rest = zero_shot_split(sims, "score", threshold=0.0015)
    return hit.select(F.lit("assigned").alias("side"), "new_id", "doc_id").unionByName(
        rest.select(F.lit("rest").alias("side"), "new_id", "doc_id"))


def _sql_zero_shot() -> str:
    return f"""WITH sims AS ({SQL_ASSIGN_NEAREST}),
hit AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS new_id
        FROM sims WHERE score >= 0.0015),
rest AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS new_id
         FROM sims WHERE score < 0.0015)
SELECT 'assigned' AS side, CAST(new_id AS BIGINT) AS new_id, doc_id FROM hit
UNION ALL
SELECT 'rest' AS side, CAST(new_id AS BIGINT) AS new_id, doc_id FROM rest"""


PROB_MAPPING = {4: 2, 3: 2}


def q_prob_scatter_add(spark, sf_dir):
    """A10: fold probability mass of merged topics."""
    from bertopic_spark.operators.distribution import scatter_add_probabilities

    d = _docs(spark, sf_dir).select("doc_id")
    topics = spark.range(5).select(F.col("id").alias("topic"))
    probs = d.crossJoin(topics).withColumn(
        "prob", ((F.col("doc_id") * 7 + F.col("topic")) % 100) / 100.0)
    out = scatter_add_probabilities(probs, PROB_MAPPING)
    return out.select("doc_id", "topic", _r6(F.col("prob")).alias("prob"))


SQL_PROB_SCATTER = """WITH probs AS (
  SELECT doc_id, t.topic,
         ((doc_id * 7 + t.topic) % 100) / 100.0 AS prob
  FROM documents, (SELECT unnest(generate_series(0, 4)) AS topic) t),
remap AS (
  SELECT doc_id,
         CASE WHEN topic IN (3, 4) THEN 2 ELSE topic END AS topic, prob
  FROM probs)
SELECT doc_id, CAST(topic AS BIGINT) AS topic, round(sum(prob), 6) AS prob
FROM remap GROUP BY doc_id, topic"""


def q_topic_set_ops(spark, sf_dir):
    """U2/U5: topic-set difference and intersection between two slices."""
    d = _docs(spark, sf_dir)
    a = d.filter(F.col("source") == "src0").select("lang").distinct()
    b = d.filter(F.col("source") == "src1").select("lang").distinct()
    return (
        a.exceptAll(b).select(F.lit("only_src0").alias("side"), "lang")
        .unionByName(a.intersect(b).select(F.lit("both").alias("side"), "lang"))
    )


SQL_TOPIC_SET_OPS = """
SELECT 'only_src0' AS side, lang FROM (
  SELECT DISTINCT lang FROM documents WHERE source = 'src0'
  EXCEPT
  SELECT DISTINCT lang FROM documents WHERE source = 'src1')
UNION ALL
SELECT 'both' AS side, lang FROM (
  SELECT DISTINCT lang FROM documents WHERE source = 'src0'
  INTERSECT
  SELECT DISTINCT lang FROM documents WHERE source = 'src1')"""


SEED_WORDS = ["table", "scan", "merge"]


def q_ctfidf_seeded_topk(spark, sf_dir):
    """X5: seed-words idf multiplier (guided topics), top-5 terms."""
    x = _cls_x(spark, sf_dir)
    stats = term_stats(x, ["lang"], seed_words=SEED_WORDS, seed_multiplier=2.0)
    t = top_k_terms(ctfidf(x, ["lang"], stats=stats), ["lang"], 5)
    return t.select("lang", "term", _r6(F.col("score")).alias("score"),
                    F.col("rank").cast("long").alias("rn"))


def _sql_ctfidf_seeded() -> str:
    seeds = ", ".join(f"'{s}'" for s in SEED_WORDS)
    return f"""WITH {_TOKS}, {_XCLS},
{_stats_sql('xcls', 'lang', False)},
idf2 AS (SELECT term, df,
                idf * CASE WHEN term IN ({seeds}) THEN 2.0 ELSE 1.0 END AS idf
         FROM idf),
scores AS (
  SELECT x.lang, x.term, (x.tf / clen.class_len) * idf2.idf AS score
  FROM xcls x JOIN clen USING (lang) JOIN idf2 USING (term)),
ranked AS (
  SELECT lang, term, score,
         row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rn
  FROM scores)
SELECT lang, term, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 5"""


SEED_TOPIC_LIST = [["table", "index"], ["query", "filter"]]  # "table" ∈ both


def q_ctfidf_guided_topk(spark, sf_dir):
    """X5 guided branch (seed_topic_list, _bertopic.py:4434-4446): flattened
    per-topic seed lists get a 1.2 idf multiplier, OVERRIDING the seed_words
    multiplier for words in both ("table" here: 1.2, not 2.0)."""
    x = _cls_x(spark, sf_dir)
    stats = term_stats(x, ["lang"], seed_words=SEED_WORDS, seed_multiplier=2.0,
                       seed_topic_list=SEED_TOPIC_LIST)
    t = top_k_terms(ctfidf(x, ["lang"], stats=stats), ["lang"], 5)
    return t.select("lang", "term", _r6(F.col("score")).alias("score"),
                    F.col("rank").cast("long").alias("rn"))


def _sql_ctfidf_guided() -> str:
    seeds = ", ".join(f"'{s}'" for s in SEED_WORDS)
    guided = ", ".join(
        f"'{s}'" for s in sorted({w for g in SEED_TOPIC_LIST for w in g}))
    return f"""WITH {_TOKS}, {_XCLS},
{_stats_sql('xcls', 'lang', False)},
idf2 AS (SELECT term, df,
                idf * CASE WHEN term IN ({guided}) THEN 1.2
                           WHEN term IN ({seeds}) THEN 2.0 ELSE 1.0 END AS idf
         FROM idf),
scores AS (
  SELECT x.lang, x.term, (x.tf / clen.class_len) * idf2.idf AS score
  FROM xcls x JOIN clen USING (lang) JOIN idf2 USING (term)),
ranked AS (
  SELECT lang, term, score,
         row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rn
  FROM scores)
SELECT lang, term, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 5"""


def q_minhash_lsh_pairs(spark, sf_dir):
    """LSH candidate pairs: docs sharing ≥1 of 4 bands (2 sigs each)."""
    from bertopic_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), "text", "doc_id",
                             num_perm=8, bands=4)


def _sql_minhash_lsh() -> str:
    base = _sql_minhash(8)
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, concat(CAST(sig_{2*b} AS VARCHAR), '_', "
        f"CAST(sig_{2*b+1} AS VARCHAR)) AS key FROM sigs"
        for b in range(4)
    )
    return f"""WITH sigs AS ({base}),
bands AS ({bands})
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id"""


DUP_CLUSTER_N = 100
DUP_TEXT = "license boilerplate duplicate cluster fixture text"


def q_minhash_lsh_star(spark, sf_dir):
    """Star-edge LSH candidates over a corpus with a pathological duplicate
    cluster (docs 0..99 forced identical): per-bucket min-id representative
    edges keep rows LINEAR in cluster size — all-pairs mode would emit
    ~100²/2 rows from the one bucket — with identical connected components
    (operators/dedup.py:_bucket_edges, the 100-TB dup-cluster scale path)."""
    from bertopic_spark.operators.dedup import minhash_lsh_pairs

    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("doc_id") < DUP_CLUSTER_N, F.lit(DUP_TEXT)).otherwise(F.col("text")),
    )
    return minhash_lsh_pairs(d, "text", "doc_id", num_perm=8, bands=4,
                             edge_mode="star")


def _sql_minhash_lsh_star() -> str:
    base = _sql_minhash(8, src="docs_dup")
    # embed the dup-cluster override ahead of the signature CTEs
    base = base.replace(
        "WITH\n",
        f"""WITH
docs_dup AS (SELECT doc_id,
  CASE WHEN doc_id < {DUP_CLUSTER_N} THEN '{DUP_TEXT}' ELSE text END AS text
  FROM documents),
""", 1)
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, concat(CAST(sig_{2*b} AS VARCHAR), '_', "
        f"CAST(sig_{2*b+1} AS VARCHAR)) AS key FROM sigs"
        for b in range(4)
    )
    return f"""WITH sigs AS ({base}),
bands AS ({bands}),
reps AS (SELECT band, key, min(doc_id) AS id_a, count(*) AS m
         FROM bands GROUP BY band, key),
edges AS (SELECT r.id_a, b.doc_id AS id_b
          FROM bands b JOIN reps r ON b.band = r.band AND b.key = r.key
          WHERE r.m >= 2 AND b.doc_id <> r.id_a)
SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_bands
FROM edges GROUP BY id_a, id_b"""


def q_dedup_components(spark, sf_dir):
    """Duplicate clusters from LSH star edges: distributed connected
    components (min-label propagation + pointer jumping,
    operators/dedup.py:dedup_components) over the same pathological
    dup-cluster corpus as dedup_minhash_lsh_star — (doc_id, component)
    with component = min reachable doc id, so keep-one-per-cluster is a
    filter. The canonical final step of a near-dup dedup pipeline."""
    from bertopic_spark.operators.dedup import dedup_components, minhash_lsh_pairs

    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("doc_id") < DUP_CLUSTER_N, F.lit(DUP_TEXT)).otherwise(F.col("text")),
    )
    edges = minhash_lsh_pairs(d, "text", "doc_id", num_perm=8, bands=4,
                              edge_mode="star")
    return dedup_components(edges)


def _sql_dedup_components() -> str:
    # min id reachable per node: recursive CTE over the symmetric closure
    # of the star-edge relation (the star gate's SQL verbatim as a subquery)
    return f"""WITH RECURSIVE
pairs AS ({_sql_minhash_lsh_star()}),
sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(node, lab) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.src, r.lab FROM sym s JOIN reach r ON s.dst = r.node)
SELECT node AS doc_id, min(lab) AS component FROM reach GROUP BY node"""


# Exact all-pairs cosine is inherently quadratic — the brute operator is
# the documented ORACLE path (LSH bands / semdedup / IVF are the scale
# paths). The gate therefore prices it on a fixed bounded slice so that no
# benched query ever executes an uncapped crossJoin (VERDICT r4 #2); the
# pushed-down vec_id filter keeps the slice identical in both engines.
# Threshold 0.4: the synthetic embeddings are near-orthogonal (max pairwise
# cosine ≈ 0.6 at every SF), so the old 0.8 threshold compared EMPTY result
# sets — 0.4 yields ~60 pairs on the slice and a meaningful value hash.
NEARDUP_BRUTE_N = 512
NEARDUP_THRESHOLD = 0.4


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (brute force) on the bounded
    NEARDUP_BRUTE_N-vector oracle slice."""
    from bertopic_spark.operators.dedup import embedding_neardup_pairs

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .filter(F.col("vec_id") < NEARDUP_BRUTE_N))
    return embedding_neardup_pairs(emb, threshold=NEARDUP_THRESHOLD)


SQL_EMBEDDING_NEARDUP = f"""WITH
v AS (SELECT vec_id, i - 1 AS dim, CAST(val AS DOUBLE) AS val
      FROM (SELECT vec_id, unnest(embedding) AS val,
                   generate_subscripts(embedding, 1) AS i FROM embeddings
            WHERE vec_id < {NEARDUP_BRUTE_N})),
norms AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM v GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.val * b.val) AS dot
  FROM v a JOIN v b ON a.dim = b.dim AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id),
sims AS (
  SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cos
  FROM dots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b)
SELECT id_a, id_b, round(cos, 6) AS cos FROM sims
WHERE cos >= {NEARDUP_THRESHOLD}"""


# a (table, bucket) holding more vectors than this pairs none of them
NEARDUP_LSH_MAX_BUCKET = 4096


def q_embedding_neardup_lsh(spark, sf_dir,
                            max_bucket: int = NEARDUP_LSH_MAX_BUCKET):
    """The SCALE path for embedding near-dup (dedup.embedding_neardup_
    lsh_pairs): candidates from collisions in any of 8 six-bit sign-LSH
    tables, exact cosine verification ≥ threshold — no crossJoin, full
    table (no slice needed). The oracle SQL replays the identical
    md5-derived hyperplanes and the same oversized-bucket cap, so the
    match is exact despite LSH."""
    from bertopic_spark.operators.dedup import embedding_neardup_lsh_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_neardup_lsh_pairs(emb, threshold=NEARDUP_THRESHOLD,
                                       max_bucket=max_bucket)


def _sql_embedding_neardup_lsh(n_planes: int = 6, n_tables: int = 8,
                               seed: int = 42,
                               max_bucket: int = NEARDUP_LSH_MAX_BUCKET) -> str:
    return f"""WITH {_SQL_COS_CORE},
coeff AS (
  SELECT p.plane, d.dim,
         (CAST(concat('0x', substr(md5(concat('{seed}_', CAST(p.plane AS VARCHAR), '_', CAST(d.dim AS VARCHAR))), 1, 8)) AS BIGINT) % 1000)
           / CAST(1000.0 AS DOUBLE) - 0.5 AS c
  FROM range(0, {n_planes * n_tables}) p(plane), (SELECT DISTINCT dim FROM v) d),
ps AS (SELECT v.vec_id, c.plane, sum(v.val * c.c) AS s
       FROM v JOIN coeff c USING (dim) GROUP BY v.vec_id, c.plane),
rbuckets AS (
  SELECT vec_id, plane // {n_planes} AS tbl,
         CAST(sum(CASE WHEN s > 0 THEN 1 << (plane % {n_planes}) ELSE 0 END) AS BIGINT) AS bucket
  FROM ps GROUP BY vec_id, plane // {n_planes}),
kept AS MATERIALIZED (
  SELECT vec_id, tbl, bucket FROM (
    SELECT *, count(*) OVER (PARTITION BY tbl, bucket) AS m FROM rbuckets)
  WHERE m <= {max_bucket}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM kept a JOIN kept b
    ON b.tbl = a.tbl AND b.bucket = a.bucket AND a.vec_id < b.vec_id),
dots AS (
  SELECT c.id_a, c.id_b, sum(x.val * y.val) AS dot
  FROM cand c JOIN v x ON x.vec_id = c.id_a
              JOIN v y ON y.vec_id = c.id_b AND y.dim = x.dim
  GROUP BY c.id_a, c.id_b),
sims AS (SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cos
         FROM dots JOIN norms na ON na.vec_id = id_a
                   JOIN norms nb ON nb.vec_id = id_b)
SELECT id_a, id_b, round(cos, 6) AS cos FROM sims
WHERE cos >= {NEARDUP_THRESHOLD}"""


IVF_NLIST, IVF_NPROBE = 16, 4


def q_ivf_ann_topk(spark, sf_dir):
    """IVF-flat ANN cosine top-10: nlist inverted lists by nearest coarse
    centroid (deterministic lowest-id seeds), probe the nprobe best lists
    per query, exact-rerank within them — the third ANN scale path next
    to the two sign-LSH variants."""
    from bertopic_spark.operators.similarity import ivf_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_cosine_topk(emb, ANN_QUERY_IDS, k=10,
                           nlist=IVF_NLIST, nprobe=IVF_NPROBE, iters=0)


def _sql_ivf_ann(topk: int = 10, nlist: int = IVF_NLIST,
                 nprobe: int = IVF_NPROBE) -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""WITH {_SQL_COS_CORE},
cent AS (SELECT vec_id AS cvid, row_number() OVER (ORDER BY vec_id) AS list_id
         FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {nlist})),
cv AS (SELECT c.list_id, v.dim, v.val FROM cent c JOIN v ON v.vec_id = c.cvid),
cnorm AS (SELECT list_id, sqrt(sum(val * val)) AS nrm FROM cv GROUP BY list_id),
adots AS (SELECT v.vec_id, cv.list_id, sum(v.val * cv.val) AS dot
          FROM v JOIN cv ON v.dim = cv.dim GROUP BY v.vec_id, cv.list_id),
asims AS (SELECT a.vec_id, a.list_id, a.dot / (n.nrm * c.nrm) AS sim
          FROM adots a JOIN norms n USING (vec_id) JOIN cnorm c USING (list_id)),
assigned AS (SELECT vec_id, list_id FROM (
  SELECT vec_id, list_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, list_id ASC) AS rn
  FROM asims) WHERE rn = 1),
probes AS (SELECT vec_id AS query_vec_id, list_id FROM (
  SELECT vec_id, list_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, list_id ASC) AS rn
  FROM asims WHERE vec_id IN ({ids})) WHERE rn <= {nprobe}),
dots AS (
  SELECT q.vec_id AS query_vec_id, d.vec_id AS vec_id, sum(q.val * d.val) AS dot
  FROM v q JOIN v d ON q.dim = d.dim
  JOIN assigned ad ON ad.vec_id = d.vec_id
  JOIN probes p ON p.query_vec_id = q.vec_id AND p.list_id = ad.list_id
  WHERE q.vec_id IN ({ids}) AND d.vec_id != q.vec_id
  GROUP BY q.vec_id, d.vec_id),
sims AS (
  SELECT query_vec_id, dots.vec_id AS vec_id, dot / (nq.nrm * nd.nrm) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = query_vec_id
            JOIN norms nd ON nd.vec_id = dots.vec_id),
ranked AS (
  SELECT query_vec_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_vec_id ORDER BY cos DESC, vec_id ASC) AS rn
  FROM sims)
SELECT query_vec_id, vec_id, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {topk}"""


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN (FAISS IndexIVFPQ shape, raw-vector codes): probe the
    nprobe nearest inverted lists, ADC-score only their PQ codes."""
    from bertopic_spark.operators.similarity import ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivfpq_topk(emb, ANN_QUERY_IDS, k=10, nlist=IVF_NLIST,
                      nprobe=IVF_NPROBE, m=PQ_M, ksub=PQ_KSUB, iters=0)


def _sql_ivfpq(topk: int = 10) -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""WITH {_SQL_COS_CORE},
cent AS (SELECT vec_id AS cvid, row_number() OVER (ORDER BY vec_id) AS list_id
         FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {IVF_NLIST})),
cv AS (SELECT c.list_id, v.dim, v.val FROM cent c JOIN v ON v.vec_id = c.cvid),
cnorm AS (SELECT list_id, sqrt(sum(val * val)) AS nrm FROM cv GROUP BY list_id),
adots AS (SELECT v.vec_id, cv.list_id, sum(v.val * cv.val) AS dot
          FROM v JOIN cv ON v.dim = cv.dim GROUP BY v.vec_id, cv.list_id),
asims AS (SELECT a.vec_id, a.list_id, a.dot / (n.nrm * c.nrm) AS sim
          FROM adots a JOIN norms n USING (vec_id) JOIN cnorm c USING (list_id)),
assigned AS (SELECT vec_id, list_id FROM (
  SELECT vec_id, list_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, list_id ASC) AS rn
  FROM asims) WHERE rn = 1),
probes AS (SELECT vec_id AS query_vec_id, list_id FROM (
  SELECT vec_id, list_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, list_id ASC) AS rn
  FROM asims WHERE vec_id IN ({ids})) WHERE rn <= {IVF_NPROBE}),
sv AS (SELECT vec_id, dim // {PQ_DSUB} AS sub, dim % {PQ_DSUB} AS sd, val
       FROM v),
seeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT DISTINCT vec_id FROM v ORDER BY vec_id LIMIT {PQ_KSUB})),
pcb AS (SELECT s.code, x.sub, x.sd, x.val AS cval
        FROM seeds s JOIN sv x ON x.vec_id = s.vec_id),
dist AS (
  SELECT x.vec_id, x.sub, pcb.code,
         sum((x.val - pcb.cval) * (x.val - pcb.cval)) AS d2
  FROM sv x JOIN pcb ON pcb.sub = x.sub AND pcb.sd = x.sd
  GROUP BY x.vec_id, x.sub, pcb.code),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                 ORDER BY d2 ASC, code ASC) AS rnk
    FROM dist) WHERE rnk = 1),
lut AS (
  SELECT q.vec_id AS query_vec_id, pcb.sub, pcb.code,
         sum(q.val * pcb.cval) AS ip
  FROM sv q JOIN pcb ON pcb.sub = q.sub AND pcb.sd = q.sd
  WHERE q.vec_id IN ({ids})
  GROUP BY q.vec_id, pcb.sub, pcb.code),
adc AS (
  SELECT l.query_vec_id, c.vec_id, sum(l.ip) AS score
  FROM codes c
  JOIN assigned ad ON ad.vec_id = c.vec_id
  JOIN probes p ON p.list_id = ad.list_id
  JOIN lut l ON l.sub = c.sub AND l.code = c.code
            AND l.query_vec_id = p.query_vec_id
  WHERE c.vec_id != p.query_vec_id
  GROUP BY l.query_vec_id, c.vec_id),
ranked AS (
  SELECT query_vec_id, vec_id, score,
         row_number() OVER (PARTITION BY query_vec_id
                            ORDER BY score DESC, vec_id ASC) AS rn
  FROM adc)
SELECT query_vec_id, vec_id, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {topk}"""


def q_document_info(spark, sf_dir):
    """Facade get_document_info: doc-level enrichment join — every doc with
    class size, label, top-words string, representative flag. Runs through
    BERTopicSpark itself (fit + get_document_info)."""
    from bertopic_spark.model import BERTopicSpark

    m = BERTopicSpark(class_cols=["lang"]).fit(
        _docs(spark, sf_dir), text_col="text", id_col="doc_id")
    out = m.get_document_info(sample_cap=10**9)
    return out.select("doc_id", "lang", "count", "label", "top_n_words",
                      "representative_document")


SQL_DOCUMENT_INFO = f"""WITH {_TOKS}, {_XCLS},
{_stats_sql('xcls', 'lang', False)},
scores AS (
  SELECT x.lang, x.term, (x.tf / clen.class_len) * idf.idf AS score
  FROM xcls x JOIN clen USING (lang) JOIN idf USING (term)),
ranked AS (
  SELECT lang, term, row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rn
  FROM scores),
labels AS (
  SELECT lang, string_agg(term, '_' ORDER BY rn) AS label
  FROM ranked WHERE rn <= 4 GROUP BY lang),
topw AS (
  SELECT lang, string_agg(term, ' - ' ORDER BY rn) AS top_n_words
  FROM ranked WHERE rn <= 10 GROUP BY lang),
sizes AS (SELECT lang, CAST(count(*) AS BIGINT) AS count FROM documents GROUP BY lang),
xdl AS (SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, lang, term),
dlen AS (SELECT doc_id, lang, CAST(sum(tf) AS BIGINT) AS doc_len
         FROM xdl GROUP BY doc_id, lang),
dsims AS (
  SELECT d.lang, d.doc_id, sum((d.tf / dl.doc_len) * s.score) AS sim
  FROM xdl d JOIN dlen dl ON dl.doc_id = d.doc_id AND dl.lang = d.lang
             JOIN scores s ON s.lang = d.lang AND s.term = d.term
  GROUP BY d.lang, d.doc_id),
reps AS (SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY sim DESC, doc_id ASC) AS rank
  FROM dsims) WHERE rank <= 3)
SELECT d.doc_id, d.lang, sizes.count, labels.label, topw.top_n_words,
       (reps.doc_id IS NOT NULL) AS representative_document
FROM documents d
JOIN sizes USING (lang) JOIN labels USING (lang) JOIN topw USING (lang)
LEFT JOIN reps ON reps.lang = d.lang AND reps.doc_id = d.doc_id"""


def q_generated_labels(spark, sf_dir):
    """Facade generate_topic_labels: top-3 words, 5-char truncation,
    '_'-separated with class prefix (reference `_bertopic.py:2042-2100`)."""
    from bertopic_spark.model import BERTopicSpark

    m = BERTopicSpark(class_cols=["lang"]).fit(
        _docs(spark, sf_dir), text_col="text", id_col="doc_id")
    return m.generate_topic_labels(nr_words=3, topic_prefix=True,
                                   word_length=5, separator="_")


SQL_GENERATED_LABELS = f"""WITH {_TOKS}, {_XCLS},
{_stats_sql('xcls', 'lang', False)},
scores AS (
  SELECT x.lang, x.term, (x.tf / clen.class_len) * idf.idf AS score
  FROM xcls x JOIN clen USING (lang) JOIN idf USING (term)),
ranked AS (
  SELECT lang, term, row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rn
  FROM scores)
SELECT lang, concat(lang, '_', string_agg(substr(term, 1, 5), '_' ORDER BY rn)) AS label
FROM ranked WHERE rn <= 3 GROUP BY lang"""


def q_topic_sim_matrix(spark, sf_dir):
    """Pairwise class-vector cosine similarity — the data relation behind
    the reference's ``visualize_heatmap`` (`_bertopic.py:3301-3360`;
    plotting itself is out of scope, the matrix is the engine's job).
    Output: (lang_a, lang_b, sim) for lang_a < lang_b."""
    from bertopic_spark.operators.topics import class_pair_distances

    s = ctfidf(_cls_x(spark, sf_dir), ["lang"])
    return class_pair_distances(s, "lang").select(
        F.col("_ca").alias("lang_a"), F.col("_cb").alias("lang_b"),
        _r6(F.lit(1.0) - F.col("dist")).alias("sim"))


SQL_TOPIC_SIM_MATRIX = f"""WITH {_TOKS}, {_XCLS},
{_stats_sql('xcls', 'lang', False)},
scores AS (
  SELECT x.lang, x.term, (x.tf / clen.class_len) * idf.idf AS score
  FROM xcls x JOIN clen USING (lang) JOIN idf USING (term)),
l2 AS (SELECT lang, sqrt(sum(score * score)) AS nrm FROM scores GROUP BY lang),
nrmd AS (SELECT s.lang, s.term, s.score / l2.nrm AS v FROM scores s JOIN l2 USING (lang)),
pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b, sum(a.v * b.v) AS cos
  FROM nrmd a JOIN nrmd b ON a.term = b.term AND a.lang < b.lang
  GROUP BY a.lang, b.lang)
SELECT lang_a, lang_b, round(1.0 - round(1.0 - cos, 6), 6) AS sim FROM pairs"""


def q_term_rank_curve(spark, sf_dir):
    """visualize_term_rank data (plotting/_term_rank.py:70-95): score by
    rank per topic, log10 with non-positive scores floored to the global
    min positive score."""
    from bertopic_spark.operators.viz import term_rank_curve

    s = ctfidf(_cls_x(spark, sf_dir), ["lang"])
    out = term_rank_curve(s, ["lang"], k=10, log_scale=True)
    return out.select("lang", F.col("rank").cast("long").alias("rank"),
                      "term", _r6(F.col("score")).alias("score"))


SQL_TERM_RANK_CURVE = f"""WITH {_TOKS}, {_XCLS},
{_scores_sql('xcls', 'lang', False, False)},
topk AS (
  SELECT lang, term, score,
         row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rank
  FROM scores QUALIFY rank <= 10),
flr AS (SELECT min(score) AS f FROM topk WHERE score > 0)
SELECT lang, CAST(rank AS BIGINT) AS rank, term,
       round(log10(CASE WHEN score > 0 THEN score ELSE flr.f END), 6) AS score
FROM topk, flr"""


def q_topic_map_2d(spark, sf_dir):
    """visualize_topics data (_bertopic.py:2541-2594): deterministic 2-D
    classical-MDS coordinates from the topic cosine-distance relation,
    via the fixed-iteration power-method eigensolve (viz._power_mds) —
    every step arithmetic-portable, so the DuckDB oracle replays the
    identical iteration schedule and the 6dp coordinates match exactly."""
    from bertopic_spark.operators.viz import topic_map_2d

    s = ctfidf(_cls_x(spark, sf_dir), ["lang"])
    return topic_map_2d(s, "lang")


def _power_mds_sql(iters: int = 80) -> str:
    """DuckDB replay of viz._power_mds over the lang-class c-TF-IDF
    cosine-distance matrix: Torgerson double-centering, ``iters`` unrolled
    power iterations per component (one matvec CTE + one exact max-abs
    rescale CTE each), final L2 normalize, first-argmax sign anchor,
    Rayleigh quotient, rank-1 deflation. Every generated CTE is
    MATERIALIZED so the ~340-step chain plans linearly instead of
    re-inlining multiply-referenced steps."""
    parts = [f"""WITH {_TOKS}, {_XCLS},
{_stats_sql('xcls', 'lang', False)},
scores AS MATERIALIZED (
  SELECT x.lang, x.term, (x.tf / clen.class_len) * idf.idf AS score
  FROM xcls x JOIN clen USING (lang) JOIN idf USING (term)),
cnrm AS (SELECT lang, sqrt(sum(score * score)) AS nrm FROM scores GROUP BY lang),
nrmd AS MATERIALIZED (SELECT s.lang, s.term, s.score / cnrm.nrm AS v
  FROM scores s JOIN cnrm USING (lang)),
cls AS MATERIALIZED (
  SELECT lang, CAST(row_number() OVER (ORDER BY lang) - 1 AS INTEGER) AS i
  FROM (SELECT DISTINCT lang FROM xcls)),
cpairs AS MATERIALIZED (
  SELECT a.lang AS la, b.lang AS lb, round(1.0 - sum(a.v * b.v), 6) AS d
  FROM nrmd a JOIN nrmd b ON a.term = b.term AND a.lang < b.lang
  GROUP BY a.lang, b.lang),
dm AS MATERIALIZED (
  SELECT ca.i AS i, cb.i AS j,
         CASE WHEN ca.i = cb.i THEN 0.0 ELSE coalesce(p.d, q.d, 1.0) END AS d
  FROM cls ca CROSS JOIN cls cb
  LEFT JOIN cpairs p ON p.la = ca.lang AND p.lb = cb.lang
  LEFT JOIN cpairs q ON q.la = cb.lang AND q.lb = ca.lang),
d2m AS MATERIALIZED (SELECT i, j, d * d AS v FROM dm),
rmm AS MATERIALIZED (SELECT i, avg(v) AS m FROM d2m GROUP BY i),
gmm AS MATERIALIZED (SELECT avg(v) AS m FROM d2m),
b0 AS MATERIALIZED (
  SELECT d2m.i, d2m.j, -0.5 * (d2m.v - ri.m - rj.m + gmm.m) AS val
  FROM d2m JOIN rmm ri ON ri.i = d2m.i JOIN rmm rj ON rj.i = d2m.j
  CROSS JOIN gmm)"""]
    for c, bm in ((1, "b0"), (2, "b1")):
        parts.append(
            f"v{c}_0 AS MATERIALIZED (SELECT i, CAST(i + 1 AS DOUBLE) AS val FROM cls)")
        for t in range(1, iters + 1):
            parts.append(
                f"w{c}_{t} AS MATERIALIZED (SELECT b.i AS i, sum(b.val * v.val) AS val "
                f"FROM {bm} b JOIN v{c}_{t - 1} v ON b.j = v.i GROUP BY b.i)")
            parts.append(
                f"v{c}_{t} AS MATERIALIZED (SELECT i, CASE WHEN max(abs(val)) OVER () = 0 "
                f"THEN val ELSE val / max(abs(val)) OVER () END AS val FROM w{c}_{t})")
        parts.append(
            f"e{c} AS MATERIALIZED (SELECT i, CASE WHEN sqrt(sum(val * val) OVER ()) = 0 "
            f"THEN 0.0 ELSE val / sqrt(sum(val * val) OVER ()) END AS val FROM v{c}_{iters})")
        parts.append(
            f"u{c} AS MATERIALIZED (SELECT i, val * (CASE WHEN "
            f"first_value(val) OVER (ORDER BY abs(val) DESC, i ASC) < 0 "
            f"THEN -1.0 ELSE 1.0 END) AS val FROM e{c})")
        parts.append(
            f"lam{c} AS MATERIALIZED (SELECT coalesce(sum(ui.val * b.val * uj.val), 0.0) AS l "
            f"FROM {bm} b JOIN u{c} ui ON ui.i = b.i JOIN u{c} uj ON uj.i = b.j)")
        if c == 1:
            parts.append(
                "b1 AS MATERIALIZED (SELECT b.i, b.j, b.val - l1.l * ui.val * uj.val AS val "
                "FROM b0 b JOIN u1 ui ON ui.i = b.i JOIN u1 uj ON uj.i = b.j "
                "CROSS JOIN lam1 l1)")
    return ",\n".join(parts) + """
SELECT c.lang,
       round(u1.val * sqrt(greatest(l1.l, 0.0)), 6) AS x,
       round(u2.val * sqrt(greatest(l2c.l, 0.0)), 6) AS y
FROM cls c JOIN u1 ON u1.i = c.i JOIN u2 ON u2.i = c.i
CROSS JOIN lam1 l1 CROSS JOIN lam2 l2c"""


SQL_TOPIC_MAP_2D = _power_mds_sql()


def q_document_map_2d(spark, sf_dir):
    """visualize_documents data (_bertopic.py:2596-2745): deterministic
    seeded random projection of every document embedding to 2-D — the
    scale path for the reference's per-document UMAP scatter (linear, one
    shuffle on the doc id, md5-seeded coefficients shared with the DuckDB
    oracle)."""
    from bertopic_spark.operators.viz import document_map_2d

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return document_map_2d(emb).select(
        F.col("vec_id").cast("long").alias("vec_id"), "x", "y")


SQL_DOCUMENT_MAP_2D = """WITH v AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding) AS val
  FROM embeddings),
coeff AS (
  SELECT a.axis, d.dim,
         (CAST(concat('0x', substr(md5(concat('2026_', CAST(a.axis AS VARCHAR), '_', CAST(d.dim AS VARCHAR))), 1, 8)) AS BIGINT) % 1000)
           / CAST(1000.0 AS DOUBLE) - 0.5 AS c
  FROM range(0, 2) a(axis), (SELECT DISTINCT dim FROM v) d)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(sum(CASE WHEN axis = 0 THEN val * c END), 6) AS x,
       round(sum(CASE WHEN axis = 1 THEN val * c END), 6) AS y
FROM v JOIN coeff USING (dim)
GROUP BY vec_id"""


def q_merge_models_sizes(spark, sf_dir):
    """J8 cross-model merge (reference ``merge_models``,
    `_bertopic.py:3590-3729`): fit two models on disjoint corpus halves
    (the second with shifted topic ids), align the second model's topics
    onto the first by c-TF-IDF cosine (≥ 0.7 → merge, else append with a
    fresh id), return merged topic sizes."""
    from bertopic_spark.model import BERTopicSpark

    d = _docs_with_topic(spark, sf_dir)
    a_docs = d.filter(F.col("doc_id") % 2 == 0)
    b_docs = d.filter(F.col("doc_id") % 2 == 1) \
        .withColumn("topic", F.col("topic") + 10)
    ma = BERTopicSpark(class_cols=["topic"]).fit(a_docs, "text", "doc_id")
    mb = BERTopicSpark(class_cols=["topic"]).fit(b_docs, "text", "doc_id")
    merged = BERTopicSpark.merge_models([ma, mb], min_similarity=0.7)
    return (
        merged.doc_terms_.select("topic", "doc_id").distinct()
        .groupBy("topic").agg(F.count(F.lit(1)).alias("count"))
    )


def _sql_merge_models(min_sim: float = 0.7) -> str:
    return f"""WITH
docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN ({_SQL_TOPIC_CASE})
              ELSE ({_SQL_TOPIC_CASE}) + 10 END AS topic,
         text
  FROM documents),
toks AS (SELECT doc_id, topic, unnest({duckdb_tokens_sql('text', MODE)}) AS term FROM docs2),
xall AS (SELECT topic, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY topic, term),
xa AS (SELECT * FROM xall WHERE topic < 10),
xb AS (SELECT * FROM xall WHERE topic >= 10),
-- model A: stats over A's corpus only (separate fit)
aclen AS (SELECT topic, CAST(sum(tf) AS BIGINT) AS class_len FROM xa GROUP BY topic),
aavg AS (SELECT CAST(floor(avg(class_len)) AS BIGINT) AS a FROM aclen),
adf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS df FROM xa GROUP BY term),
aidf AS (SELECT term, ln(a / df + 1.0) AS idf FROM adf CROSS JOIN aavg),
ascores AS (
  SELECT x.topic, x.term, (x.tf / c.class_len) * i.idf AS score
  FROM xa x JOIN aclen c USING (topic) JOIN aidf i USING (term)),
-- model B: its own stats
bclen AS (SELECT topic, CAST(sum(tf) AS BIGINT) AS class_len FROM xb GROUP BY topic),
bavg AS (SELECT CAST(floor(avg(class_len)) AS BIGINT) AS a FROM bclen),
bdf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS df FROM xb GROUP BY term),
bidf AS (SELECT term, ln(a / df + 1.0) AS idf FROM bdf CROSS JOIN bavg),
bscores AS (
  SELECT x.topic, x.term, (x.tf / c.class_len) * i.idf AS score
  FROM xb x JOIN bclen c USING (topic) JOIN bidf i USING (term)),
-- L2-normalized cosine alignment, rounded 6dp before thresholding
al2 AS (SELECT topic, sqrt(sum(score * score)) AS nrm FROM ascores GROUP BY topic),
bl2 AS (SELECT topic, sqrt(sum(score * score)) AS nrm FROM bscores GROUP BY topic),
an AS (SELECT s.topic, s.term, s.score / l.nrm AS v FROM ascores s JOIN al2 l USING (topic)),
bn AS (SELECT s.topic, s.term, s.score / l.nrm AS v FROM bscores s JOIN bl2 l USING (topic)),
sims AS (
  SELECT b.topic AS bt, a.topic AS at, round(sum(a.v * b.v), 6) AS sim
  FROM bn b JOIN an a USING (term) GROUP BY b.topic, a.topic),
best AS (SELECT bt, at, sim FROM (
  SELECT bt, at, sim, row_number() OVER (PARTITION BY bt ORDER BY sim DESC, at ASC) AS rn
  FROM sims) WHERE rn = 1),
btopics AS (SELECT DISTINCT topic AS bt FROM xb),
amax AS (SELECT max(topic) AS m FROM xa),
mapping AS (
  SELECT t.bt,
         CASE WHEN b.sim >= {min_sim} THEN b.at
              ELSE (SELECT m FROM amax)
                   + row_number() OVER (PARTITION BY (CASE WHEN b.sim >= {min_sim} THEN 0 ELSE 1 END)
                                        ORDER BY t.bt ASC)
         END AS new_topic,
         (b.sim >= {min_sim}) AS matched
  FROM btopics t LEFT JOIN best b USING (bt)),
assigned AS (
  SELECT d.doc_id,
         CASE WHEN d.topic < 10 THEN d.topic ELSE m.new_topic END AS topic
  FROM docs2 d LEFT JOIN mapping m ON m.bt = d.topic)
SELECT topic, CAST(count(*) AS BIGINT) AS count FROM assigned GROUP BY topic"""


# ---------------------------------------------------------------------------
# Fulltext query surface: phrase + boolean (operators/fulltext.py)
# ---------------------------------------------------------------------------

PHRASE = ("part", "filter")
BOOL_MUST, BOOL_SHOULD, BOOL_NOT = ["part"], ["filter", "window"], ["spark"]


def q_phrase_match(spark, sf_dir):
    """Positional phrase query via the indexed path: positional postings
    (id, term, pos) pruned to the phrase's terms, per-doc position-list
    intersection with offsets. Overlapping occurrences count. The scan
    path (one HOF pass, no shuffle) is pytest-asserted equal."""
    from bertopic_spark.operators.fulltext import (doc_term_positions,
                                                   phrase_match_postings)

    pos = doc_term_positions(_docs(spark, sf_dir), "text", "doc_id", MODE)
    return phrase_match_postings(pos, list(PHRASE))


def _sql_phrase_match(phrase=None) -> str:
    # exact positional adjacency self-join — overlap-aware like the engine
    phrase = phrase or PHRASE
    joins, conds = [], [f"p0.term = '{phrase[0]}'"]
    for j in range(1, len(phrase)):
        joins.append(f"JOIN p p{j} ON p{j}.doc_id = p0.doc_id "
                     f"AND p{j}.pos = p0.pos + {j}")
        conds.append(f"p{j}.term = '{phrase[j]}'")
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos FROM tk)
SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM p p0 {' '.join(joins)}
WHERE {' AND '.join(conds)}
GROUP BY p0.doc_id"""


def q_incremental_phrase_match(spark, sf_dir):
    """Positional-index generational maintenance (index/positions.
    IncrementalPositions): append the even-id half, append the odd-id
    half, tombstone every 17th doc, then serve the phrase from the
    generation union — content-identical to a positional rebuild of the
    survivors (the oracle computes exactly that; positions carry no
    corpus statistics, so a tombstone alone restores rebuild-equality)."""
    import shutil
    import tempfile

    from bertopic_spark.index.positions import IncrementalPositions
    from bertopic_spark.operators.fulltext import phrase_match_postings

    docs = _docs(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="bsp_posinc_")
    try:
        ix = IncrementalPositions.create(spark, root, mode=MODE)
        ix.append(docs.filter(F.col("doc_id") % 2 == 0), text_col="text")
        ix.append(docs.filter(F.col("doc_id") % 2 == 1), text_col="text")
        ix.delete(docs.filter(F.col("doc_id") % 17 == 0).select("doc_id"))
        rows = phrase_match_postings(ix.read(list(PHRASE)),
                                     list(PHRASE)).collect()
        return spark.createDataFrame(rows, "doc_id long, n_matches long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _sql_incremental_phrase() -> str:
    base = _sql_phrase_match()
    return base.replace(
        "AS ts FROM documents),",
        "AS ts FROM documents WHERE doc_id % 17 != 0),")


PHRASE3 = ("slow", "hash", "batch")   # multi-occurrence docs at sf0.01

BATCH_PHRASES = {0: ["part", "filter"], 1: ["slow", "hash", "batch"],
                 2: ["order"]}


def q_phrase_batch_match(spark, sf_dir):
    """Batched phrase serving (operators/fulltext.phrase_match_batch):
    every phrase answered in ONE plan — postings prune once to the union
    of all phrase terms, per-(doc, term) position lists build once and
    fan out to phrases via a broadcast (query_id, term) join, adjacency
    checked per phrase by nested JVM HOFs. The per-phrase loop the bench
    used to run (8 jobs) collapses to one job."""
    from bertopic_spark.operators.fulltext import (doc_term_positions,
                                                   phrase_match_batch)

    pos = doc_term_positions(_docs(spark, sf_dir), "text", "doc_id", MODE)
    return phrase_match_batch(pos, BATCH_PHRASES)


def _sql_phrase_batch() -> str:
    parts = []
    for q, toks in sorted(BATCH_PHRASES.items()):
        joins, conds = [], [f"p0.term = '{toks[0]}'"]
        for j in range(1, len(toks)):
            joins.append(f"JOIN p p{j} ON p{j}.doc_id = p0.doc_id "
                         f"AND p{j}.pos = p0.pos + {j}")
            conds.append(f"p{j}.term = '{toks[j]}'")
        parts.append(
            f"SELECT CAST({q} AS BIGINT) AS query_id, p0.doc_id, "
            f"CAST(count(*) AS BIGINT) AS n_matches "
            f"FROM p p0 {' '.join(joins)} WHERE {' AND '.join(conds)} "
            f"GROUP BY p0.doc_id")
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos FROM tk)
{' UNION ALL '.join(parts)}"""


def q_phrase_shingled_match(spark, sf_dir):
    """Shingle-accelerated phrase match (operators/fulltext.
    phrase_match_shingled — Lucene ShingleFilter / ES index_phrases):
    bigram-index prefilter (docs containing EVERY phrase bigram), exact
    adjacency verification over only the candidates. Same truth as the
    positional paths; the oracle is the exact adjacency self-join."""
    from bertopic_spark.operators.fulltext import phrase_match_shingled

    return phrase_match_shingled(_docs(spark, sf_dir), " ".join(PHRASE3),
                                 "text", "doc_id", MODE)


def q_boolean_match(spark, sf_dir):
    """Boolean term query (must AND / should OR≥1 / must_not NOT) via the
    single-scan path: token-set predicates in one JVM pass, no shuffle.
    The postings-path variant is pytest-asserted equal."""
    from bertopic_spark.operators.fulltext import boolean_match

    return boolean_match(_docs(spark, sf_dir), must=BOOL_MUST,
                         should=BOOL_SHOULD, must_not=BOOL_NOT,
                         min_should=1, text_col="text", id_col="doc_id",
                         mode=MODE)


def _sql_boolean_match() -> str:
    pos_terms = ", ".join(f"'{t}'" for t in (*BOOL_MUST, *BOOL_SHOULD))
    should = ", ".join(f"'{t}'" for t in BOOL_SHOULD)
    musts = " AND ".join(f"list_contains(ts, '{t}')" for t in BOOL_MUST)
    nots = " AND ".join(f"NOT list_contains(ts, '{t}')" for t in BOOL_NOT)
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents)
SELECT doc_id,
       CAST(len(list_intersect(list_distinct(ts), [{pos_terms}])) AS BIGINT)
         AS n_matched
FROM tk
WHERE {musts} AND len(list_intersect(list_distinct(ts), [{should}])) >= 1
  AND {nots}"""


# ---------------------------------------------------------------------------
# Fulltext query surface: prefix / wildcard / fuzzy via dictionary
# expansion, snippets, facets (operators/fulltext.py)
# ---------------------------------------------------------------------------

PREFIX_Q = "s"
WILDCARD_Q = "s?a*"          # -> scan, small, spark on the driver vocabulary
FUZZY_Q, FUZZY_DIST = "querry", 1
SNIPPET_TERMS, SNIPPET_WINDOW, SNIPPET_K = ("customer", "order"), 8, 50
FACET_MUST, FACET_COLS = ["customer"], ("lang", "source")


def q_prefix_match(spark, sf_dir):
    """Prefix query, Lucene-shaped: expand the prefix against the term
    dictionary (one distinct-agg — at scale, the index's existing per-term
    stats relation), then one scan pass counting occurrences of the
    expanded disjunction. (doc_id, n_matches, n_terms)."""
    from bertopic_spark.operators.fulltext import (prefix_terms,
                                                   term_dictionary,
                                                   term_set_match)

    docs = _docs(spark, sf_dir)
    terms = prefix_terms(term_dictionary(docs, "text", "doc_id", MODE),
                         PREFIX_Q)
    return term_set_match(docs, terms, "text", "doc_id", MODE)


def _sql_term_set_match(term_pred: str) -> str:
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
hit AS (SELECT doc_id, unnest(ts) AS term FROM tk)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       CAST(count(DISTINCT term) AS BIGINT) AS n_terms
FROM hit WHERE {term_pred} GROUP BY doc_id"""


def q_wildcard_match(spark, sf_dir):
    """Wildcard query (*/?) via dictionary expansion, evaluated on the
    POSTINGS path: the expanded term set prunes a (id, term, pos) relation
    before one partial-agg groupBy — the filter is pushed to the scan when
    the postings are a materialized index."""
    from bertopic_spark.operators.fulltext import (doc_term_positions,
                                                   term_dictionary,
                                                   term_set_match_postings,
                                                   wildcard_terms)

    docs = _docs(spark, sf_dir)
    terms = wildcard_terms(term_dictionary(docs, "text", "doc_id", MODE),
                           WILDCARD_Q)
    pos = doc_term_positions(docs, "text", "doc_id", MODE, terms=terms)
    return term_set_match_postings(pos, terms)


def q_fuzzy_match(spark, sf_dir):
    """Fuzzy term query: Levenshtein-expand against the dictionary (length
    band prunes before the O(n·m) distance), then the scan-path disjunction
    count. (doc_id, n_matches, n_terms)."""
    from bertopic_spark.operators.fulltext import (fuzzy_terms,
                                                   term_dictionary,
                                                   term_set_match)

    docs = _docs(spark, sf_dir)
    terms = fuzzy_terms(term_dictionary(docs, "text", "doc_id", MODE),
                        FUZZY_Q, FUZZY_DIST)
    return term_set_match(docs, terms, "text", "doc_id", MODE)


REGEXP_Q = "[a-z]*or[a-z]*"   # {order, sort, vector} on the fixture vocab


def q_regexp_match(spark, sf_dir):
    """Lucene/ES regexp query: compile the (RE2∩Java-portable, anchored)
    pattern against the term dictionary only, then run the expanded
    disjunction as one scan pass. (doc_id, n_matches, n_terms)."""
    from bertopic_spark.operators.fulltext import (regexp_terms,
                                                   term_dictionary,
                                                   term_set_match)

    docs = _docs(spark, sf_dir)
    terms = regexp_terms(term_dictionary(docs, "text", "doc_id", MODE),
                         REGEXP_Q)
    return term_set_match(docs, terms, "text", "doc_id", MODE)


def q_snippet_topk(spark, sf_dir):
    """Best highlight window per matching doc (most query-term hits in a
    fixed token window, earliest-start tie-break), globally ranked. All
    per-row JVM HOF algebra — one corpus pass, no UDF; the only shuffle is
    the final top-k sort."""
    from bertopic_spark.operators.fulltext import best_snippet

    w = Window.orderBy(F.desc("n_hits"), F.asc("doc_id"))
    return (best_snippet(_docs(spark, sf_dir), list(SNIPPET_TERMS),
                         SNIPPET_WINDOW, "text", "doc_id", MODE)
            .select("doc_id", F.col("start").alias("start_pos"), "n_hits",
                    "snippet")
            .withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= SNIPPET_K))


NFRAG = 3


def q_top_snippets(spark, sf_dir):
    """Multi-fragment highlighting (ES number_of_fragments analog): up to
    3 fixed-tile fragments per matching doc ranked by query-hit count —
    per-row HOF algebra, one posexplode, no shuffle."""
    from bertopic_spark.operators.fulltext import top_snippets

    return top_snippets(_docs(spark, sf_dir), list(SNIPPET_TERMS),
                        NFRAG, SNIPPET_WINDOW, "text", "doc_id", MODE)


def _sql_top_snippets() -> str:
    qt = ", ".join(f"'{t}'" for t in SNIPPET_TERMS)
    w = SNIPPET_WINDOW
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos FROM tk),
hits AS (
  SELECT doc_id, CAST(pos // {w} AS BIGINT) AS tile,
         CAST(count(*) AS BIGINT) AS n_hits
  FROM p WHERE term IN ({qt}) GROUP BY doc_id, tile),
ranked AS (
  SELECT doc_id, tile, n_hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n_hits DESC, tile ASC) AS fr
  FROM hits),
kept AS (SELECT * FROM ranked WHERE fr <= {NFRAG})
SELECT k.doc_id, CAST(k.fr AS BIGINT) AS frag_rank,
       CAST(k.tile * {w} AS BIGINT) AS start, k.n_hits,
       array_to_string(t.ts[k.tile * {w} + 1 : k.tile * {w} + {w}], ' ')
         AS snippet
FROM kept k JOIN tk t USING (doc_id)"""


def _sql_snippet_topk() -> str:
    qt = ", ".join(f"'{t}'" for t in SNIPPET_TERMS)
    w = SNIPPET_WINDOW
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
hit AS (
  SELECT doc_id, ts,
         list_filter(range(0, len(ts)),
                     i -> list_contains([{qt}], ts[i + 1])) AS pos
  FROM tk),
scored AS (
  SELECT doc_id, ts, pos,
         list_transform(pos, p -> len(list_filter(
             pos, q -> q >= p AND q < p + {w}))) AS cnts
  FROM hit WHERE len(pos) > 0),
pick AS (
  SELECT doc_id,
         pos[list_position(cnts, list_max(cnts))] AS start_pos,
         list_max(cnts) AS n_hits,
         array_to_string(
             ts[pos[list_position(cnts, list_max(cnts))] + 1 :
                pos[list_position(cnts, list_max(cnts))] + {w}],
             ' ') AS snippet
  FROM scored),
ranked AS (
  SELECT doc_id, start_pos, n_hits, snippet,
         row_number() OVER (ORDER BY n_hits DESC, doc_id ASC) AS rn
  FROM pick)
SELECT doc_id, CAST(start_pos AS BIGINT) AS start_pos,
       CAST(n_hits AS BIGINT) AS n_hits, snippet, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {SNIPPET_K}"""


ASSOC_TARGETS, ASSOC_MIN_DF, ASSOC_N = ("customer", "spark"), 5, 10


def q_term_associations(spark, sf_dir):
    """Related terms by document-level PMI: the target side is an isin-
    pruned slice of the distinct doc-term relation, so the co-count join
    shuffles |target postings| ⋈ |postings| — never vocabulary all-pairs."""
    from bertopic_spark.operators.fulltext import term_associations

    out = term_associations(_docs(spark, sf_dir), list(ASSOC_TARGETS),
                            ASSOC_MIN_DF, ASSOC_N, "text", "doc_id", MODE)
    return out.select("target", "term", "co_df",
                      _r6(F.col("pmi")).alias("pmi"), "rank")


def _sql_term_associations() -> str:
    ts = ", ".join(f"'{t}'" for t in ASSOC_TARGETS)
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
dt AS (SELECT doc_id, unnest(list_distinct(ts)) AS term FROM tk),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY term),
tgt AS (SELECT doc_id, term AS target FROM dt WHERE term IN ({ts})),
co AS (
  SELECT t.target, d.term, CAST(count(*) AS BIGINT) AS co_df
  FROM tgt t JOIN dt d USING (doc_id)
  WHERE d.term != t.target GROUP BY t.target, d.term),
scored AS (
  SELECT co.target, co.term, co.co_df,
         ln(nd.n * co.co_df / (tdf.df * udf.df)) AS pmi
  FROM co JOIN dfs udf ON udf.term = co.term AND udf.df >= {ASSOC_MIN_DF}
       JOIN dfs tdf ON tdf.term = co.target CROSS JOIN nd),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY target
                               ORDER BY pmi DESC, term ASC) AS rank
  FROM scored)
SELECT target, term, co_df, round(pmi, 6) AS pmi, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {ASSOC_N}"""


PQ_M, PQ_KSUB, PQ_DSUB = 8, 16, 8


def q_pq_adc_topk(spark, sf_dir):
    """Product-quantization ADC top-10 (operators/similarity.py): codes are
    m bytes per vector (32× compression — the embedding-index scale path),
    scoring is a map-only LUT-lookup HOF over the codes. iters=0 seeds the
    codebooks with the ksub lowest-id vectors (cross-engine oracle, same
    strategy as ivf_ann_topk); Lloyd training + exact re-rank are
    pytest-covered."""
    from bertopic_spark.operators.similarity import pq_topk_adc

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_topk_adc(emb, ANN_QUERY_IDS, k=10, m=PQ_M, ksub=PQ_KSUB,
                       iters=0)


def _sql_pq_adc() -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""WITH {_SQL_COS_CORE.lstrip()},
sv AS (SELECT vec_id, dim // {PQ_DSUB} AS sub, dim % {PQ_DSUB} AS sd, val
       FROM v),
seeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT DISTINCT vec_id FROM v ORDER BY vec_id LIMIT {PQ_KSUB})),
cb AS (SELECT s.code, x.sub, x.sd, x.val AS cval
       FROM seeds s JOIN sv x ON x.vec_id = s.vec_id),
dist AS (
  SELECT x.vec_id, x.sub, cb.code,
         sum((x.val - cb.cval) * (x.val - cb.cval)) AS d2
  FROM sv x JOIN cb ON cb.sub = x.sub AND cb.sd = x.sd
  GROUP BY x.vec_id, x.sub, cb.code),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                 ORDER BY d2 ASC, code ASC) AS rnk
    FROM dist) WHERE rnk = 1),
lut AS (
  SELECT q.vec_id AS query_vec_id, cb.sub, cb.code,
         sum(q.val * cb.cval) AS ip
  FROM sv q JOIN cb ON cb.sub = q.sub AND cb.sd = q.sd
  WHERE q.vec_id IN ({ids})
  GROUP BY q.vec_id, cb.sub, cb.code),
adc AS (
  SELECT l.query_vec_id, c.vec_id, sum(l.ip) AS score
  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
  WHERE c.vec_id != l.query_vec_id
  GROUP BY l.query_vec_id, c.vec_id),
ranked AS (
  SELECT query_vec_id, vec_id, score,
         row_number() OVER (PARTITION BY query_vec_id
                            ORDER BY score DESC, vec_id ASC) AS rn
  FROM adc)
SELECT query_vec_id, vec_id, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_ann_sq8_topk(spark, sf_dir):
    """SQ8 scalar-quantized ANN (operators/similarity.sq8_topk — FAISS
    IndexScalarQuantizer QT_8bit shape): per-dimension 8-bit uniform
    quantization in BIGINT micro-units, asymmetric midpoint-reconstruction
    inner-product serving with a certified per-result error bound."""
    from bertopic_spark.operators.similarity import sq8_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sq8_topk(emb, ANN_QUERY_IDS, k=10)


def _sql_ann_sq8() -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""WITH {_SQL_COS_CORE.lstrip()},
vu AS (SELECT vec_id, dim, CAST(round(val * 1000000) AS BIGINT) AS vu, val
       FROM v),
b AS (SELECT dim, min(vu) AS min_u, max(vu) AS max_u FROM vu GROUP BY dim),
codes AS (
  SELECT x.vec_id, x.dim,
         CASE WHEN b.max_u = b.min_u THEN 0
              ELSE greatest(0, least(255,
                   ((x.vu - b.min_u) * 256) // (b.max_u - b.min_u))) END
           AS code,
         b.min_u AS min_u, b.max_u - b.min_u AS rng
  FROM vu x JOIN b USING (dim)),
qd AS (SELECT vec_id AS query_vec_id, dim, val AS qval
       FROM v WHERE vec_id IN ({ids})),
pair AS (
  SELECT q.query_vec_id, c.vec_id,
         sum(q.qval * ((c.min_u + (c.code + 0.5) * c.rng / 256.0)
                       / 1000000.0)) AS score,
         sum(abs(q.qval) * (c.rng / 512000000.0 + 0.0000005)) AS err_bound
  FROM qd q JOIN codes c USING (dim)
  WHERE c.vec_id != q.query_vec_id
  GROUP BY q.query_vec_id, c.vec_id),
ranked AS (
  SELECT query_vec_id, vec_id, score, err_bound,
         row_number() OVER (PARTITION BY query_vec_id
                            ORDER BY score DESC, vec_id ASC) AS rn
  FROM pair)
SELECT query_vec_id, vec_id, round(score, 6) AS score,
       round(err_bound, 6) AS err_bound, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


HYBRID_QIDS, HYBRID_K0, HYBRID_K = (0, 1, 2, 3, 4), 60, 10


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid lexical+dense retrieval: BM25 top-k and brute cosine top-k
    fused by reciprocal-rank fusion (rank-only, no score calibration).
    The dense leg keys on embeddings.vec_id sharing the doc_id domain."""
    from bertopic_spark.operators.bm25 import (bm25_topk_adhoc, queries_df,
                                               query_terms, rrf_fuse)
    from bertopic_spark.operators.similarity import cosine_topk

    qs = {q: DRIVER_QUERIES[q] for q in HYBRID_QIDS}
    qt = query_terms(queries_df(spark, qs), MODE)
    leg_text = (bm25_topk_adhoc(_docs(spark, sf_dir), qt, k=HYBRID_K,
                                text_col="text", id_col="doc_id", mode=MODE)
                .select("query_id", "doc_id", "rank"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    leg_dense = (cosine_topk(emb, list(HYBRID_QIDS), k=HYBRID_K)
                 .select(F.col("query_vec_id").alias("query_id"),
                         F.col("vec_id").alias("doc_id"),
                         F.col("rn").alias("rank")))
    out = rrf_fuse([leg_text, leg_dense], k0=HYBRID_K0, k=HYBRID_K)
    return out.select("query_id", "doc_id",
                      _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rn"))


def _sql_hybrid_rrf() -> str:
    ids = ", ".join(str(i) for i in HYBRID_QIDS)
    return f"""WITH {_TOKS}, {_XDOC},
{_scores_sql('xdoc', 'doc_id', True, False)},
qv(query_id, term) AS (VALUES {_query_term_values()}),
bhits AS (
  SELECT qv.query_id, s.doc_id, sum(s.score) AS score
  FROM qv JOIN scores s USING (term)
  WHERE qv.query_id IN ({ids})
  GROUP BY qv.query_id, s.doc_id),
branked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM bhits),
{_SQL_COS_CORE.lstrip()},
dots AS (
  SELECT q.vec_id AS query_id, d.vec_id AS doc_id, sum(q.val * d.val) AS dot
  FROM v q JOIN v d ON q.dim = d.dim
  WHERE q.vec_id IN ({ids}) AND d.vec_id != q.vec_id
  GROUP BY q.vec_id, d.vec_id),
sims AS (
  SELECT query_id, dots.doc_id, dot / (nq.nrm * nd.nrm) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = query_id
            JOIN norms nd ON nd.vec_id = dots.doc_id),
cranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, doc_id ASC) AS rn
  FROM sims),
leg AS (
  SELECT query_id, doc_id, rn FROM branked WHERE rn <= {HYBRID_K}
  UNION ALL
  SELECT query_id, doc_id, rn FROM cranked WHERE rn <= {HYBRID_K}),
fused AS (
  SELECT query_id, doc_id, sum(1.0 / ({HYBRID_K0} + rn)) AS score
  FROM leg GROUP BY query_id, doc_id),
franked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM fused)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM franked WHERE rn <= {HYBRID_K}"""


def q_top_metrics_latest(spark, sf_dir):
    """ES top_metrics (sort on ts, metric = value): per event_type, the
    value carried by the LATEST event — one max_by-riding agg, no window
    over the raw events, no self-join. (ts is unique per event_type in
    the fixture at every SF, so the single-key argmax is deterministic.)"""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy("event_type")
            .agg(F.max("ts").alias("latest_ts"),
                 _r6(F.max_by(F.col("value"), F.col("ts")))
                 .alias("latest_value")))


SQL_TOP_METRICS = """SELECT event_type, max(ts) AS latest_ts,
       round(arg_max(value, ts), 6) AS latest_value
FROM events GROUP BY event_type"""


def q_weighted_avg_value(spark, sf_dir):
    """ES weighted_avg aggregation: value weighted by event recency rank
    (weight = epoch-day of ts — a deterministic numeric weight column);
    one agg, sum(w·v)/sum(w)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # NTZ -> LTZ cast is identity under the UTC session timezone;
    # unix_micros then matches DuckDB's epoch_us exactly
    w = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86400.0e6)
    return (ev.groupBy("event_type")
            .agg(_r6(F.sum(w * F.col("value")) / F.sum(w))
                 .alias("weighted_avg"),
                 F.count(F.lit(1)).cast("long").alias("n")))


SQL_WEIGHTED_AVG = """SELECT event_type,
       round(sum((epoch_us(ts) / 86400.0e6) * value)
             / sum(epoch_us(ts) / 86400.0e6), 6) AS weighted_avg,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type"""


FS_WEIGHTS, FS_SCALE_DAYS = (1.0, 2.0, 0.5), 90


def q_function_score_multi(spark, sf_dir):
    """ES function_score with MULTIPLE functions (operators/bm25.
    function_score_topk): ln1p length factor + gauss recency decay (the
    deterministic mtime fixture) + md5 random_score, weighted sum,
    multiplied into Okapi — all functions evaluated in ONE projection
    over the corpus row."""
    from bertopic_spark.operators.bm25 import function_score_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    d = _docs(spark, sf_dir)
    age_days = F.datediff(F.lit(_DECAY_NOW).cast("date"),
                          F.expr(_MTIME_SPARK))
    fns = [
        F.log1p(0.01 * F.col("n_chars")),
        F.pow(F.lit(0.5), F.pow(age_days / F.lit(FS_SCALE_DAYS), F.lit(2.0))),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long") / F.lit(4294967296.0),
    ]
    t = function_score_topk(d, qt, fns, weights=list(FS_WEIGHTS),
                            score_mode="sum", boost_mode="multiply", k=10,
                            k1=OKAPI_K1, b=OKAPI_B, text_col="text",
                            mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"))


def _sql_function_score_multi() -> str:
    return f"""WITH {_TOKS}, {_XDOC},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(ln(1.0 + (ns.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * dl.dl / ns.avgdl))) AS score
  FROM q JOIN xdoc x USING (term) JOIN dfs USING (term)
       JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN nstats ns
  GROUP BY q.query_id, x.doc_id),
fs AS (
  SELECT doc_id,
         {FS_WEIGHTS[0]} * ln(1.0 + 0.01 * n_chars)
         + {FS_WEIGHTS[1]} * power(0.5,
             power(date_diff('day', {_MTIME_DUCK}, DATE '{_DECAY_NOW}')
                   * 1.0 / {FS_SCALE_DAYS}, 2.0))
         + {FS_WEIGHTS[2]} * (CAST(concat('0x',
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             / 4294967296.0) AS f
  FROM documents),
blended AS (
  SELECT h.query_id, h.doc_id, h.score * fs.f AS score
  FROM hits h JOIN fs USING (doc_id)),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC) AS rn
           FROM blended)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


BQ_RERANK = 40


def q_ann_bq_topk(spark, sf_dir):
    """Binary-quantized ANN (operators/similarity.bq_hamming_topk):
    1-bit sign codes in two 32-bit halves, Hamming pre-rank via
    xor+popcount (map-only broadcast probe), exact cosine re-rank of the
    top-40 candidates."""
    from bertopic_spark.operators.similarity import bq_hamming_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return bq_hamming_topk(emb, ANN_QUERY_IDS, k=10, rerank=BQ_RERANK)


def _sql_ann_bq() -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""WITH {_SQL_COS_CORE},
codes AS (SELECT vec_id,
    CAST(sum(CASE WHEN val > 0 AND dim < 32
                  THEN (1::BIGINT << dim) ELSE 0 END) AS BIGINT) AS lo,
    CAST(sum(CASE WHEN val > 0 AND dim >= 32
                  THEN (1::BIGINT << (dim - 32)) ELSE 0 END) AS BIGINT) AS hi
  FROM v GROUP BY vec_id),
qc AS (SELECT vec_id AS query_vec_id, lo AS qlo, hi AS qhi
       FROM codes WHERE vec_id IN ({ids})),
ham AS (SELECT qc.query_vec_id, c.vec_id,
               CAST(bit_count(xor(c.lo, qc.qlo))
                    + bit_count(xor(c.hi, qc.qhi)) AS BIGINT) AS hamming
        FROM codes c CROSS JOIN qc WHERE c.vec_id != qc.query_vec_id),
cand AS (SELECT query_vec_id, vec_id, hamming FROM (
  SELECT query_vec_id, vec_id, hamming,
         row_number() OVER (PARTITION BY query_vec_id
                            ORDER BY hamming ASC, vec_id ASC) AS hr
  FROM ham) WHERE hr <= {BQ_RERANK}),
dots AS (SELECT ca.query_vec_id, ca.vec_id, ca.hamming,
                sum(q.val * d.val) AS dot
         FROM cand ca
         JOIN v q ON q.vec_id = ca.query_vec_id
         JOIN v d ON d.vec_id = ca.vec_id AND d.dim = q.dim
         GROUP BY ca.query_vec_id, ca.vec_id, ca.hamming),
sims AS (SELECT query_vec_id, dots.vec_id, hamming,
                dot / (nq.nrm * nd.nrm) AS cos
         FROM dots JOIN norms nq ON nq.vec_id = query_vec_id
              JOIN norms nd ON nd.vec_id = dots.vec_id),
ranked AS (SELECT query_vec_id, vec_id, hamming, cos,
                  row_number() OVER (PARTITION BY query_vec_id
                                     ORDER BY cos DESC, vec_id ASC) AS rn
           FROM sims)
SELECT query_vec_id, vec_id, hamming, round(cos, 6) AS cos,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


BM25PLUS_DELTA = 1.0
TSET_TERMS = ("hash", "join", "merge", "sort", "window")


def q_bm25plus_topk(spark, sf_dir):
    """BM25+ (operators/bm25.bm25plus_topk — Lv & Zhai 2011): Okapi with
    the δ·idf per-match floor that fixes long-document over-penalization;
    δ=1.0 paper default. Completes the classical family beside Okapi/
    LM/DFR/DFI/IB/Axiomatic/TF-IDF."""
    from bertopic_spark.operators.bm25 import bm25plus_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = bm25plus_topk(_docs(spark, sf_dir), qt, k=10, k1=OKAPI_K1,
                      b=OKAPI_B, delta=BM25PLUS_DELTA, text_col="text",
                      mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"))


def _sql_bm25plus() -> str:
    return f"""WITH {_TOKS}, {_XDOC},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(ln(1.0 + (ns.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
             (x.tf * {OKAPI_K1 + 1.0} /
              (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                    {OKAPI_B} * dl.dl / ns.avgdl))
              + {BM25PLUS_DELTA})) AS score
  FROM q JOIN xdoc x USING (term) JOIN dfs USING (term)
       JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN nstats ns
  GROUP BY q.query_id, x.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_terms_set_match(spark, sf_dir):
    """ES terms_set (operators/bm25.terms_set_match): per-DOCUMENT
    dynamic minimum_should_match — here msm = 2 + doc_id % 3 (stand-in
    for the reference's minimum_should_match_field), over a 5-term set.
    The threshold is evaluated in the same projection; no join."""
    from bertopic_spark.operators.bm25 import terms_set_match

    return terms_set_match(
        _docs(spark, sf_dir), list(TSET_TERMS),
        F.lit(2) + F.col("doc_id") % 3, text_col="text", mode=MODE)


def _sql_terms_set() -> str:
    ts = ", ".join(f"'{t}'" for t in TSET_TERMS)
    return f"""WITH {_TOKS},
m AS (SELECT doc_id, CAST(count(DISTINCT term) AS BIGINT) AS n_matched
      FROM toks WHERE term IN ({ts}) GROUP BY doc_id),
d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS BIGINT) AS msm_required
      FROM documents)
SELECT d.doc_id, m.n_matched, d.msm_required
FROM d JOIN m USING (doc_id)
WHERE m.n_matched >= d.msm_required"""


HYB_W_TEXT, HYB_W_DENSE = 0.7, 0.3


def q_hybrid_linear(spark, sf_dir):
    """Score-calibrated hybrid fusion (operators/bm25.linear_fuse): the
    min-max-normalized convex combination (0.7·BM25 + 0.3·cosine) —
    the Vespa/Weaviate-style alternative to rank-only RRF; same legs as
    the hybrid_rrf gate."""
    from bertopic_spark.operators.bm25 import (bm25_topk_adhoc, linear_fuse,
                                               queries_df, query_terms)
    from bertopic_spark.operators.similarity import cosine_topk

    qs = {q: DRIVER_QUERIES[q] for q in HYBRID_QIDS}
    qt = query_terms(queries_df(spark, qs), MODE)
    # Leg scores are rounded to 6dp BEFORE normalization (both engines):
    # min-max divides by small per-query ranges, amplifying sub-6dp float
    # noise — on identical rounded inputs the normalize+fuse arithmetic
    # is bit-deterministic, so the output compares exactly.
    leg_text = (bm25_topk_adhoc(_docs(spark, sf_dir), qt, k=HYBRID_K,
                                text_col="text", id_col="doc_id", mode=MODE)
                .select("query_id", "doc_id", _r6(F.col("score")).alias("score")))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    leg_dense = (cosine_topk(emb, list(HYBRID_QIDS), k=HYBRID_K)
                 .select(F.col("query_vec_id").alias("query_id"),
                         F.col("vec_id").alias("doc_id"),
                         _r6(F.col("cos")).alias("score")))
    out = linear_fuse([leg_text, leg_dense],
                      weights=[HYB_W_TEXT, HYB_W_DENSE], k=HYBRID_K)
    return out.select("query_id", "doc_id",
                      _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rn"))


def _sql_hybrid_linear() -> str:
    ids = ", ".join(str(i) for i in HYBRID_QIDS)
    return f"""WITH {_TOKS}, {_XDOC},
{_scores_sql('xdoc', 'doc_id', True, False)},
qv(query_id, term) AS (VALUES {_query_term_values()}),
bhits AS (
  SELECT qv.query_id, s.doc_id, sum(s.score) AS score
  FROM qv JOIN scores s USING (term)
  WHERE qv.query_id IN ({ids})
  GROUP BY qv.query_id, s.doc_id),
branked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM bhits),
btop AS (SELECT query_id, doc_id, round(score, 6) AS score
         FROM branked WHERE rn <= {HYBRID_K}),
bnorm AS (SELECT query_id, doc_id,
                 CASE WHEN max(score) OVER (PARTITION BY query_id) >
                           min(score) OVER (PARTITION BY query_id)
                      THEN (score - min(score) OVER (PARTITION BY query_id))
                           / (max(score) OVER (PARTITION BY query_id)
                              - min(score) OVER (PARTITION BY query_id))
                      ELSE 1.0 END AS n
          FROM btop),
{_SQL_COS_CORE.lstrip()},
dots AS (
  SELECT q.vec_id AS query_id, d.vec_id AS doc_id, sum(q.val * d.val) AS dot
  FROM v q JOIN v d ON q.dim = d.dim
  WHERE q.vec_id IN ({ids}) AND d.vec_id != q.vec_id
  GROUP BY q.vec_id, d.vec_id),
sims AS (
  SELECT query_id, dots.doc_id, dot / (nq.nrm * nd.nrm) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = query_id
            JOIN norms nd ON nd.vec_id = dots.doc_id),
cranked AS (
  SELECT query_id, doc_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, doc_id ASC) AS rn
  FROM sims),
ctop AS (SELECT query_id, doc_id, round(cos, 6) AS cos
         FROM cranked WHERE rn <= {HYBRID_K}),
cnorm AS (SELECT query_id, doc_id,
                 CASE WHEN max(cos) OVER (PARTITION BY query_id) >
                           min(cos) OVER (PARTITION BY query_id)
                      THEN (cos - min(cos) OVER (PARTITION BY query_id))
                           / (max(cos) OVER (PARTITION BY query_id)
                              - min(cos) OVER (PARTITION BY query_id))
                      ELSE 1.0 END AS n
          FROM ctop),
leg AS (SELECT query_id, doc_id, {HYB_W_TEXT} * n AS c FROM bnorm
        UNION ALL
        SELECT query_id, doc_id, {HYB_W_DENSE} * n FROM cnorm),
fused AS (SELECT query_id, doc_id, sum(c) AS score
          FROM leg GROUP BY query_id, doc_id),
franked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM fused)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM franked WHERE rn <= {HYBRID_K}"""


DYM_TERMS = ("custmer", "joinn", "querry", "tabel", "windoww")
DYM_DIST, DYM_N = 2, 3


def q_did_you_mean(spark, sf_dir):
    """Spell suggestion (Lucene DirectSpellChecker ordering): top-n
    dictionary terms per misspelled input by (edit distance, df desc,
    term). Only the tiny term dictionary is touched — never the corpus."""
    from bertopic_spark.operators.fulltext import suggest_terms, term_dictionary

    d = term_dictionary(_docs(spark, sf_dir), "text", "doc_id", MODE)
    return suggest_terms(d, list(DYM_TERMS), DYM_DIST, DYM_N)


def _sql_did_you_mean() -> str:
    vals = ", ".join(f"('{t}')" for t in DYM_TERMS)
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
hit AS (SELECT doc_id, unnest(list_distinct(ts)) AS term FROM tk),
dict AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM hit GROUP BY term),
qs(q_term) AS (VALUES {vals}),
cand AS (
  SELECT q_term, term AS suggestion, levenshtein(term, q_term) AS dist, df
  FROM qs CROSS JOIN dict
  WHERE abs(length(term) - length(q_term)) <= {DYM_DIST}
    AND levenshtein(term, q_term) <= {DYM_DIST}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_term
      ORDER BY dist ASC, df DESC, suggestion ASC) AS rank
  FROM cand)
SELECT q_term, suggestion, CAST(dist AS BIGINT) AS dist, df,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {DYM_N}"""


def q_search_snippets(spark, sf_dir):
    """Search-result assembly: BM25 top-k, then highlights computed ONLY on
    the k hits per query (broadcast-sized), with the per-query term set
    bound into one struct HOF — the corpus is scanned once by retrieval,
    never again for snippets."""
    from bertopic_spark.operators.fulltext import search_with_snippets

    out = search_with_snippets(_docs(spark, sf_dir), DRIVER_QUERIES, k=10,
                               window=SNIPPET_WINDOW, text_col="text",
                               id_col="doc_id", mode=MODE)
    return out.select("query_id", "doc_id",
                      _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rn"),
                      F.col("start").alias("start_pos"), "n_hits", "snippet")


SQL_SEARCH_SNIPPETS = f"""WITH {_TOKS}, {_XDOC},
{_scores_sql('xdoc', 'doc_id', True, False)},
qv(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT qv.query_id, s.doc_id, sum(s.score) AS score
  FROM qv JOIN scores s USING (term) GROUP BY qv.query_id, s.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits),
topk AS (SELECT * FROM ranked WHERE rn <= 10),
qlist AS (SELECT query_id, list_sort(list(DISTINCT term)) AS qts
          FROM qv GROUP BY query_id),
tkd AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts
        FROM documents),
joined AS (
  SELECT t.query_id, t.doc_id, t.score, t.rn, ql.qts, tkd.ts
  FROM topk t JOIN qlist ql USING (query_id) JOIN tkd USING (doc_id)),
hp AS (
  SELECT *, list_filter(range(0, len(ts)),
                        i -> list_contains(qts, ts[i + 1])) AS ps
  FROM joined),
scored2 AS (
  SELECT *, list_transform(ps, p -> len(list_filter(
      ps, z -> z >= p AND z < p + {SNIPPET_WINDOW}))) AS cnts
  FROM hp WHERE len(ps) > 0)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       round(score, 6) AS score, CAST(rn AS BIGINT) AS rn,
       CAST(ps[list_position(cnts, list_max(cnts))] AS BIGINT) AS start_pos,
       CAST(list_max(cnts) AS BIGINT) AS n_hits,
       array_to_string(
           ts[ps[list_position(cnts, list_max(cnts))] + 1 :
              ps[list_position(cnts, list_max(cnts))] + {SNIPPET_WINDOW}],
           ' ') AS snippet
FROM scored2"""


def q_redact_pii(spark, sf_dir):
    """PII/secret scrub (operators/textstats.py `redact_pii`): per-rule
    audit counts on the original text + the redacted text (sha-compared).
    PII is synthesized deterministically from doc_id on BOTH sides (the
    corpus itself is clean), so the gate verifies the redaction, not the
    data. Map-only pass: regexp_count/replace inside WholeStageCodegen."""
    from bertopic_spark.operators.textstats import redact_pii

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            " ", "text",
            F.concat(F.lit("user"), F.col("doc_id").cast("string"),
                     F.lit("@example.com")),
            F.concat(F.lit("10.0."), (F.col("doc_id") % 256).cast("string"),
                     F.lit(".1")),
            F.concat(F.lit("555-"),
                     F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                     F.lit("-1234")),
            F.md5(F.col("doc_id").cast("string"))).alias("text"))
    out = redact_pii(d, "text", "doc_id")
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone", "n_hexkey",
                      F.sha2(F.col("clean"), 256).alias("clean_sha"))


def _sql_redact_pii() -> str:
    from bertopic_spark.operators.textstats import PII_RULES

    pats = {name: pat for name, pat, _ in PII_RULES}
    clean = "t"
    for name, pat, repl in PII_RULES:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(t, '{pats[n]}')) AS BIGINT) AS n_{n}"
        for n in ("email", "ipv4", "phone", "hexkey"))
    return f"""WITH aug AS (
  SELECT doc_id, concat_ws(' ', text,
      'user' || CAST(doc_id AS VARCHAR) || '@example.com',
      '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1',
      '555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234',
      md5(CAST(doc_id AS VARCHAR))) AS t
  FROM documents)
SELECT doc_id, {counts}, sha256({clean}) AS clean_sha FROM aug"""


MLT_SEEDS, MLT_TERMS, MLT_K = (0, 7, 42), 5, 10


def q_more_like_this(spark, sf_dir):
    """More-like-this (Lucene MLT shape): each seed doc's top-n terms by
    its own BM25 score become the query; retrieval is the inverted-index
    probe with the self-hit excluded. One persisted counts pass feeds
    stats, seed-term extraction, and the probe."""
    from bertopic_spark.operators.bm25 import more_like_this

    out = more_like_this(_docs(spark, sf_dir), list(MLT_SEEDS),
                         n_terms=MLT_TERMS, k=MLT_K, text_col="text",
                         id_col="doc_id", mode=MODE)
    return out.select("query_id", "doc_id", _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rn"))


SQL_MORE_LIKE_THIS = f"""WITH {_TOKS}, {_XDOC},
{_scores_sql('xdoc', 'doc_id', True, False)},
seedq AS (
  SELECT doc_id AS query_id, term FROM (
    SELECT doc_id, term,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term ASC) AS tr
    FROM scores WHERE doc_id IN {MLT_SEEDS})
  WHERE tr <= {MLT_TERMS}),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM seedq q JOIN scores s USING (term)
  WHERE s.doc_id <> q.query_id
  GROUP BY q.query_id, s.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {MLT_K}"""


def q_facet_counts(spark, sf_dir):
    """Facet histograms over a match set: semi-join prune to the hits, one
    stack-explode of the facet columns, one shuffle for ALL histograms."""
    from bertopic_spark.operators.fulltext import boolean_match, facet_counts

    docs = _docs(spark, sf_dir)
    hits = boolean_match(docs, must=FACET_MUST, text_col="text",
                         id_col="doc_id", mode=MODE)
    return facet_counts(hits, docs, list(FACET_COLS))


def _sql_facet_counts() -> str:
    musts = " AND ".join(f"list_contains(ts, '{t}')" for t in FACET_MUST)
    legs = " UNION ALL ".join(
        f"""SELECT '{c}' AS facet, coalesce(CAST({c} AS VARCHAR), 'null')
              AS value, CAST(count(*) AS BIGINT) AS n_docs
            FROM hits GROUP BY 1, 2""" for c in FACET_COLS)
    return f"""WITH
tk AS (SELECT doc_id, lang, source, {duckdb_tokens_sql('text', MODE)} AS ts
       FROM documents),
hits AS (SELECT * FROM tk WHERE {musts})
{legs}"""


# ---------------------------------------------------------------------------
# C4-style frequent-line removal + benchmark decontamination (dedup.py)
# ---------------------------------------------------------------------------

LINE_MIN_COUNT = 3
BENCH_MOD, BENCH_REM = 53, 7  # benchmark = docs with doc_id % 53 == 7


def q_frequent_lines_removed(spark, sf_dir):
    """C4-style corpus-wide duplicate-line removal. The documents table is
    one-line prose, so the query first groups tokens into 5-word lines
    (deterministic regexp, same in both engines), then drops every line
    occurring ≥ 3 times across the corpus and reassembles survivors in
    order: (doc_id, text_clean, n_lines_kept, n_lines_removed), all docs."""
    from bertopic_spark.operators.dedup import frequent_line_removal

    lined = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace("text", r"((?:\S+ ){4}\S+) ", "$1\n").alias("text"))
    return frequent_line_removal(lined, "text", "doc_id", sep="\n",
                                 min_count=LINE_MIN_COUNT)


SQL_FREQUENT_LINES = rf"""WITH
d AS (SELECT doc_id,
             regexp_replace(text, '((?:\S+ ){{4}}\S+) ', '\1' || chr(10), 'g')
               AS t FROM documents),
l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line,
             unnest(range(len(string_split(t, chr(10))))) AS pos FROM d),
freq AS (SELECT line FROM l GROUP BY line
         HAVING count(*) >= {LINE_MIN_COUNT}),
kept AS (SELECT l.* FROM l ANTI JOIN freq USING (line)),
reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS tc,
               CAST(count(*) AS BIGINT) AS nk FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id,
               CAST(len(string_split(t, chr(10))) AS BIGINT) AS nl FROM d)
SELECT tot.doc_id, coalesce(reb.tc, '') AS text_clean,
       CAST(coalesce(reb.nk, 0) AS BIGINT) AS n_lines_kept,
       CAST(tot.nl - coalesce(reb.nk, 0) AS BIGINT) AS n_lines_removed
FROM tot LEFT JOIN reb USING (doc_id)"""


def q_decontaminate_bench(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any token
    4-gram with the held-out benchmark slice (doc_id % 53 == 7) — the
    standard pre-training hygiene step. Benchmark shingles broadcast;
    the corpus streams through one join."""
    from bertopic_spark.operators.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter((F.col("doc_id") % BENCH_MOD) == BENCH_REM)
    train = docs.filter((F.col("doc_id") % BENCH_MOD) != BENCH_REM)
    return decontaminate(train, bench, n=4)


SQL_DECONTAMINATE = f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
sh AS (SELECT DISTINCT doc_id,
              ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]
                AS shingle
       FROM tk, unnest(generate_series(1, greatest(len(ts) - 3, 0))) AS u(i)),
b AS (SELECT DISTINCT shingle FROM sh
      WHERE doc_id % {BENCH_MOD} = {BENCH_REM})
SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM sh s JOIN b USING (shingle)
WHERE s.doc_id % {BENCH_MOD} <> {BENCH_REM}
GROUP BY s.doc_id"""


PROX_TERMS, PROX_WINDOW = ("customer", "order"), 12


def q_proximity_match(spark, sf_dir):
    """Unordered proximity (slop) query via the indexed path: postings
    pruned to the query's terms, one linear plane sweep per doc (never the
    per-term position-list cross product). The scan path is
    pytest-asserted equal, and both against a brute-force sweep."""
    from bertopic_spark.operators.fulltext import (doc_term_positions,
                                                   proximity_match_postings)

    pos = doc_term_positions(_docs(spark, sf_dir), "text", "doc_id", MODE)
    return proximity_match_postings(pos, list(PROX_TERMS), PROX_WINDOW)


def _sql_proximity_match() -> str:
    a, b = PROX_TERMS
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos FROM tk),
pa AS (SELECT doc_id, pos FROM p WHERE term = '{a}'),
pb AS (SELECT doc_id, pos FROM p WHERE term = '{b}'),
sp AS (SELECT pa.doc_id, min(abs(pa.pos - pb.pos) + 1) AS min_span
       FROM pa JOIN pb USING (doc_id) GROUP BY pa.doc_id)
SELECT doc_id, CAST(min_span AS BIGINT) AS min_span
FROM sp WHERE min_span <= {PROX_WINDOW}"""


COLLAPSE_PER_KEY, COLLAPSE_K = 2, 5


def q_collapse_topk(spark, sf_dir):
    """Field-collapsed search results (Lucene/ES collapse): at most
    ``per_key`` hits per (query, lang), global top-k after collapsing.
    Two windows over one exchange; hits already pruned to query terms."""
    from bertopic_spark.operators.bm25 import bm25_topk_adhoc, collapse_topk

    docs = _docs(spark, sf_dir)
    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    hits = bm25_topk_adhoc(docs, qt, k=1 << 30, text_col="text",
                           mode=MODE).drop("rank")
    out = collapse_topk(hits, docs.select("doc_id", "lang"), "lang",
                        per_key=COLLAPSE_PER_KEY, k=COLLAPSE_K)
    return out.select("query_id", "doc_id", "lang",
                      _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rank"))


SQL_COLLAPSE_TOPK = f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM q JOIN scores s USING (term) GROUP BY q.query_id, s.doc_id),
j AS (SELECT h.query_id, h.doc_id, h.score, d.lang
      FROM hits h JOIN documents d USING (doc_id)),
keyed AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, lang
                               ORDER BY score DESC, doc_id ASC) AS kr
  FROM j),
ranked AS (
  SELECT query_id, doc_id, lang, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM keyed WHERE kr <= {COLLAPSE_PER_KEY})
SELECT query_id, doc_id, lang, round(score, 6) AS score,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {COLLAPSE_K}"""


BM25F_W_TEXT, BM25F_W_SRC, BM25F_K1, BM25F_B = 1.0, 3.0, 1.2, 0.75


def q_bm25f_topk(spark, sf_dir):
    """BM25F multi-field retrieval: field-weight-blended tf and doc length
    (text ×1, source ×3), Robertson idf, saturated scoring, top-10."""
    from bertopic_spark.operators.bm25 import bm25f_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    out = bm25f_topk(_docs(spark, sf_dir), qt,
                     {"text": BM25F_W_TEXT, "source": BM25F_W_SRC},
                     k=10, k1=BM25F_K1, b=BM25F_B, mode=MODE)
    return out.select("query_id", "doc_id",
                      _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rn"))


def _sql_bm25f() -> str:
    wt, ws, k1, b = BM25F_W_TEXT, BM25F_W_SRC, BM25F_K1, BM25F_B
    return f"""WITH
tka AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ta,
               {duckdb_tokens_sql('source', MODE)} AS tb FROM documents),
ex AS (SELECT doc_id, unnest(ta) AS term, {wt} AS w FROM tka
       UNION ALL SELECT doc_id, unnest(tb) AS term, {ws} AS w FROM tka),
wtf AS (SELECT doc_id, term, sum(w) AS wtf FROM ex GROUP BY doc_id, term),
wdl AS (SELECT doc_id, {wt}*coalesce(len(ta), 0) + {ws}*coalesce(len(tb), 0) AS wdl
        FROM tka),
st AS (SELECT sum(wdl) / count(*) AS avgwdl, count(*) AS n FROM wdl),
dft AS (SELECT term, count(*) AS df FROM wtf GROUP BY term),
idf AS (SELECT term, ln(1.0 + (st.n - df + 0.5) / (df + 0.5)) AS idf
        FROM dft CROSS JOIN st),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, w.doc_id,
         sum(idf.idf * w.wtf * {k1 + 1.0}
             / (w.wtf + {k1} * ({1.0 - b} + {b} * d.wdl / s.avgwdl))) AS score
  FROM q JOIN wtf w USING (term) JOIN idf USING (term)
       JOIN wdl d ON d.doc_id = w.doc_id CROSS JOIN st s
  GROUP BY q.query_id, w.doc_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT query_id, doc_id, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


PRF_R, PRF_M, PRF_ALPHA, PRF_BETA = 3, 3, 1.0, 0.5


def q_prf_expand_topk(spark, sf_dir):
    """Rocchio pseudo-relevance feedback: BM25 top-r feedback docs, top-m
    expansion terms by summed per-doc score, α/β-weighted rescore, top-10.
    One persisted scored index feeds both rounds."""
    from bertopic_spark.operators.bm25 import prf_expand_topk

    out = prf_expand_topk(_docs(spark, sf_dir),
                          queries_df(spark, DRIVER_QUERIES),
                          r=PRF_R, m=PRF_M, alpha=PRF_ALPHA, beta=PRF_BETA,
                          k=10, text_col="text", mode=MODE)
    return out.select("query_id", "doc_id",
                      _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rn"))


def _sql_prf() -> str:
    return f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
hits1 AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM q JOIN scores s USING (term) GROUP BY q.query_id, s.doc_id),
base AS (
  SELECT query_id, doc_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id ASC) AS rn
    FROM hits1) WHERE rn <= {PRF_R}),
fb AS (
  SELECT b.query_id, s.term, sum(s.score) AS wgt
  FROM base b JOIN scores s USING (doc_id)
  LEFT JOIN q ON q.query_id = b.query_id AND q.term = s.term
  WHERE q.term IS NULL
  GROUP BY b.query_id, s.term),
expn AS (
  SELECT query_id, term, {PRF_BETA} AS qw FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY wgt DESC, term ASC) AS er
    FROM fb) WHERE er <= {PRF_M}),
wq AS (SELECT query_id, term, {PRF_ALPHA} AS qw FROM q
       UNION ALL SELECT query_id, term, qw FROM expn),
hits2 AS (
  SELECT wq.query_id, s.doc_id, sum(wq.qw * s.score) AS score
  FROM wq JOIN scores s USING (term) GROUP BY wq.query_id, s.doc_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits2)
SELECT query_id, doc_id, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


PSG_W, PSG_S = 32, 16


def q_passage_topk(spark, sf_dir):
    """MaxP passage retrieval: docs split into 32-token windows every 16,
    best passage represents the doc, top-10 per query. Postings pruned to
    query terms BEFORE window expansion — passages never materialize."""
    from bertopic_spark.operators.bm25 import passage_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    out = passage_topk(_docs(spark, sf_dir), qt, window=PSG_W, stride=PSG_S,
                       k=10, text_col="text", mode=MODE)
    return out.select("query_id", "doc_id", "start_pos", "plen",
                      _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rn"))


def _sql_passage_topk() -> str:
    w, s = PSG_W, PSG_S
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
nd AS (SELECT count(*) AS n FROM documents),
ws AS (SELECT doc_id, CAST(u.s AS INT) AS start_pos,
              least({w}, len(ts) - u.s) AS plen,
              ts[u.s + 1 : u.s + {w}] AS win
       FROM tk, unnest(range(0, len(ts), {s})) AS u(s)),
st AS (SELECT avg(plen) AS avgpl FROM ws),
dft AS (SELECT term, count(*) AS df FROM
          (SELECT doc_id, unnest(list_distinct(ts)) AS term FROM tk)
        GROUP BY term),
idf AS (SELECT term, ln(1.0 + (nd.n - df + 0.5) / (df + 0.5)) AS idf
        FROM dft CROSS JOIN nd),
ptf AS (SELECT doc_id, start_pos, plen, term, count(*) AS tf
        FROM (SELECT doc_id, start_pos, plen, unnest(win) AS term FROM ws)
        GROUP BY doc_id, start_pos, plen, term),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, p.doc_id, p.start_pos, p.plen,
         sum(idf.idf * p.tf * 2.2
             / (p.tf + 1.2 * (0.25 + 0.75 * p.plen / st.avgpl))) AS score
  FROM q JOIN ptf p USING (term) JOIN idf USING (term) CROSS JOIN st
  GROUP BY q.query_id, p.doc_id, p.start_pos, p.plen),
maxp AS (SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
                                 ORDER BY score DESC, start_pos ASC) AS pr
    FROM hits) WHERE pr = 1),
ranked AS (
  SELECT query_id, doc_id, start_pos, plen, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC,
                                     start_pos ASC) AS rn
  FROM maxp)
SELECT query_id, doc_id, CAST(start_pos AS BIGINT) AS start_pos,
       CAST(plen AS BIGINT) AS plen, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_bm25_stratified(spark, sf_dir):
    """Per-language BM25: N/df/avgdl all partition-local to the lang
    stratum (one keyed pass, no per-lang loop), top-5 within each."""
    from bertopic_spark.operators.bm25 import bm25_topk_stratified

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    out = bm25_topk_stratified(_docs(spark, sf_dir), qt, "lang", k=5,
                               text_col="text", mode=MODE)
    return out.select("query_id", "lang", "doc_id",
                      _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rn"))


def _sql_bm25_stratified() -> str:
    return f"""WITH
tk AS (SELECT doc_id, lang, {duckdb_tokens_sql('text', MODE)} AS ts
       FROM documents),
ss AS (SELECT lang, count(*) AS n, avg(len(ts)) AS avgdl FROM tk GROUP BY lang),
x AS (SELECT lang, doc_id, term, count(*) AS tf
      FROM (SELECT lang, doc_id, unnest(ts) AS term FROM tk)
      GROUP BY lang, doc_id, term),
dft AS (SELECT lang, term, count(*) AS df FROM x GROUP BY lang, term),
idf AS (SELECT lang, term,
               ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf
        FROM dft JOIN ss USING (lang)),
dl AS (SELECT doc_id, len(ts) AS dl FROM tk),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.lang, x.doc_id,
         sum(idf.idf * x.tf * 2.2
             / (x.tf + 1.2 * (0.25 + 0.75 * dl.dl / ss.avgdl))) AS score
  FROM q JOIN x USING (term)
       JOIN idf ON idf.lang = x.lang AND idf.term = x.term
       JOIN dl ON dl.doc_id = x.doc_id
       JOIN ss ON ss.lang = x.lang
  GROUP BY q.query_id, x.lang, x.doc_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, lang
                               ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT query_id, lang, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 5"""


SHARD_BUDGET = 5000


def q_pack_shards(spark, sf_dir):
    """Token-budget shard packing via distributed prefix sum (the
    assign_doc_ids pattern — no single-partition window at any size)."""
    from bertopic_spark.operators.textstats import pack_shards

    return pack_shards(_docs(spark, sf_dir), SHARD_BUDGET,
                       order_cols=["doc_id"], text_col="text", mode=MODE)


def _sql_pack_shards() -> str:
    return f"""WITH
tk AS (SELECT doc_id, CAST(len({duckdb_tokens_sql('text', MODE)}) AS BIGINT)
                AS n_tokens FROM documents),
c AS (SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM tk)
SELECT doc_id, n_tokens,
       CAST(floor((cum - n_tokens) / {SHARD_BUDGET}) AS BIGINT) AS shard_id
FROM c"""


def q_gopher_filter(spark, sf_dir):
    """Gopher-style quality verdict (Rae et al. 2021 A1.1): keep/drop plus
    the rule-ordered violated-band list, composed from the token and
    repetition stats relations in one doc-id join."""
    from bertopic_spark.operators.textstats import gopher_filter

    return gopher_filter(_docs(spark, sf_dir))


def _sql_gopher_filter() -> str:
    return f"""WITH
ts AS ({_sql_token_stats()}),
rs AS ({_sql_repetition_stats()}),
j AS (SELECT ts.doc_id, ts.n_tokens, ts.avg_token_len, ts.stopword_ratio,
             rs.dup_line_frac, rs.top_bigram_char_frac
      FROM ts JOIN rs USING (doc_id)),
f AS (SELECT doc_id, list_filter([
        CASE WHEN n_tokens < 50 THEN 'too_few_tokens' END,
        CASE WHEN n_tokens > 100000 THEN 'too_many_tokens' END,
        CASE WHEN avg_token_len < 3.0 THEN 'avg_token_len_low' END,
        CASE WHEN avg_token_len > 10.0 THEN 'avg_token_len_high' END,
        CASE WHEN stopword_ratio < 0.06 THEN 'low_stopword_ratio' END,
        CASE WHEN dup_line_frac > 0.30 THEN 'dup_lines' END,
        CASE WHEN top_bigram_char_frac > 0.18 THEN 'dup_top_bigram' END
      ], x -> x IS NOT NULL) AS rl FROM j)
SELECT doc_id, coalesce(array_to_string(rl, ','), '') = '' AS keep,
       coalesce(array_to_string(rl, ','), '') AS reasons
FROM f"""


def q_training_shards(spark, sf_dir):
    """End-to-end training-data prep: Gopher keep → exact dedup (min-id
    representative) → token-budget shard packing, one declarative plan."""
    from bertopic_spark.operators.pipeline import training_shards

    return training_shards(_docs(spark, sf_dir), SHARD_BUDGET,
                           text_col="text", mode=MODE)


def _sql_training_shards() -> str:
    return f"""WITH
g AS ({_sql_gopher_filter()}),
kept AS (SELECT d.doc_id, d.text FROM documents d
         JOIN g ON g.doc_id = d.doc_id AND g.keep),
reps AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
surv AS (SELECT kept.doc_id, kept.text FROM kept JOIN reps USING (doc_id)),
tk AS (SELECT doc_id,
              CAST(len({duckdb_tokens_sql('text', MODE)}) AS BIGINT)
                AS n_tokens FROM surv),
c AS (SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM tk)
SELECT doc_id, n_tokens,
       CAST(floor((cum - n_tokens) / {SHARD_BUDGET}) AS BIGINT) AS shard_id
FROM c"""


QL_QUERY = '+customer -spark "scan customer" ord* valu~ lang:en'


def q_search_query(spark, sf_dir):
    """Lucene-style query string compiled onto the engine: must/not gates,
    positional phrase, bounded wildcard+fuzzy expansion, field equality,
    BM25 over the positive-term union, distributed TakeOrdered top-k."""
    from bertopic_spark.operators.querylang import search_query

    out = search_query(_docs(spark, sf_dir), QL_QUERY, k=10,
                       text_col="text", mode=MODE)
    return out.select("doc_id", _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rn"))


def _sql_search_query() -> str:
    return f"""WITH
tkq AS (SELECT doc_id, lang, {duckdb_tokens_sql('text', MODE)} AS ts
        FROM documents),
t2 AS (SELECT doc_id, unnest(ts) AS term FROM tkq),
xdoc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         FROM t2 GROUP BY doc_id, term),
{_scores_sql('xdoc', 'doc_id', True, False).lstrip(',').strip()},
dict AS (SELECT DISTINCT term FROM t2),
pos AS (SELECT 'customer' AS term UNION SELECT 'scan'
        UNION SELECT term FROM dict WHERE term LIKE 'ord%'
        UNION SELECT term FROM dict WHERE levenshtein(term, 'valu') <= 1),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos
      FROM tkq),
ph AS (SELECT DISTINCT p0.doc_id FROM p p0
       JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
       WHERE p0.term = 'scan' AND p1.term = 'customer'),
cand AS (SELECT t.doc_id FROM tkq t JOIN ph USING (doc_id)
         WHERE t.lang = 'en' AND list_contains(ts, 'customer')
           AND NOT list_contains(ts, 'spark')),
hits AS (SELECT s.doc_id, sum(s.score) AS score
         FROM scores s JOIN pos USING (term) JOIN cand USING (doc_id)
         GROUP BY s.doc_id),
ranked AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC)
                      AS rn FROM hits)
SELECT doc_id, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


QL_BOOSTED = 'customer^2 order +value^0.5 -spark'


def q_search_query_boosted(spark, sf_dir):
    """Query-time term boosts in the query language (operators/querylang
    `^` clauses): customer ×2, value ×0.5 (required), order ×1 — each
    term's BM25 contribution multiplied before the per-doc sum, the
    Lucene boost semantics."""
    from bertopic_spark.operators.querylang import search_query

    out = search_query(_docs(spark, sf_dir), QL_BOOSTED, k=10,
                       text_col="text", mode=MODE)
    return out.select("doc_id", _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rn"))


def _sql_search_query_boosted() -> str:
    return f"""WITH
tkq AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts
        FROM documents),
t2 AS (SELECT doc_id, unnest(ts) AS term FROM tkq),
xdoc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         FROM t2 GROUP BY doc_id, term),
{_scores_sql('xdoc', 'doc_id', True, False).lstrip(',').strip()},
pos(term, boost) AS (VALUES ('customer', 2.0), ('order', 1.0),
                            ('value', 0.5)),
cand AS (SELECT doc_id FROM tkq
         WHERE list_contains(ts, 'value')
           AND NOT list_contains(ts, 'spark')),
hits AS (SELECT s.doc_id, sum(s.score * pos.boost) AS score
         FROM scores s JOIN pos USING (term) JOIN cand USING (doc_id)
         GROUP BY s.doc_id),
ranked AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC)
                      AS rn FROM hits)
SELECT doc_id, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


DSIR_B, DSIR_ALPHA, DSIR_SEED, DSIR_GSEED, DSIR_N = 512, 1.0, 13, 29, 50
DSIR_TARGET_LANG = "en"


def q_dsir_sample(spark, sf_dir):
    """DSIR (Xie et al. 2023): importance resampling toward a target
    distribution — hashed unigram+bigram bucket models (B=512) for the
    English slice (target) vs the whole corpus (raw), per-doc
    log-likelihood-ratio weights, then Gumbel top-n (exact
    softmax-weighted sampling without replacement). Every stage is
    md5-deterministic and replays in SQL."""
    from bertopic_spark.operators.pipeline import dsir_logweights, dsir_sample

    d = _docs(spark, sf_dir)
    w = dsir_logweights(d, d.filter(F.col("lang") == DSIR_TARGET_LANG),
                        "text", "doc_id", DSIR_B, DSIR_ALPHA, MODE,
                        DSIR_SEED)
    out = dsir_sample(w, DSIR_N, "doc_id", DSIR_GSEED)
    return out.select("doc_id", "n_grams", _r6(F.col("logw")).alias("logw"),
                      _r6(F.col("key")).alias("key"),
                      F.col("rank").cast("long").alias("rank"))


def _sql_dsir_sample() -> str:
    b, a = DSIR_B, DSIR_ALPHA
    return f"""WITH
tk AS MATERIALIZED (
  SELECT doc_id, lang, {duckdb_tokens_sql('text', MODE)} AS a FROM documents),
gr AS MATERIALIZED (
  SELECT doc_id, lang, gram FROM (
    SELECT doc_id, lang, unnest(a) AS gram FROM tk
    UNION ALL
    SELECT doc_id, lang,
           unnest(list_transform(list_zip(a[1:len(a)-1], a[2:len(a)]),
                                 z -> z[1] || ' ' || z[2])) AS gram
    FROM tk WHERE len(a) >= 2)),
fb AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5('{DSIR_SEED}_' || gram), 1, 15))
              AS BIGINT) % {b} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM gr GROUP BY doc_id, lang, bucket),
qm AS (SELECT bucket, sum(cnt) AS qc FROM fb GROUP BY bucket),
pm AS (SELECT bucket, sum(cnt) AS pc FROM fb
       WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket),
qt AS (SELECT sum(qc) AS qt FROM qm),
pt AS (SELECT sum(pc) AS pt FROM pm),
ratio AS (
  SELECT q.bucket,
         ln((coalesce(p.pc, 0) + {a}) / (pt.pt + {float(a * b)}))
         - ln((q.qc + {a}) / (qt.qt + {float(a * b)})) AS lr
  FROM qm q LEFT JOIN pm p USING (bucket) CROSS JOIN qt CROSS JOIN pt),
per AS (
  SELECT f.doc_id, CAST(sum(f.cnt) AS BIGINT) AS n_grams,
         sum(f.cnt * r.lr) AS logw
  FROM fb f JOIN ratio r USING (bucket) GROUP BY f.doc_id),
wts AS (
  SELECT d.doc_id, coalesce(per.n_grams, 0) AS n_grams,
         coalesce(per.logw, 0.0) AS logw
  FROM (SELECT DISTINCT doc_id FROM documents) d
  LEFT JOIN per USING (doc_id)),
keyed AS (
  SELECT doc_id, n_grams, logw,
         logw - ln(-ln((CAST(concat('0x', substr(md5('{DSIR_GSEED}_' ||
                CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
                / 1152921504606846976.0)) AS key
  FROM wts),
ranked AS (
  SELECT doc_id, n_grams, logw, key,
         row_number() OVER (ORDER BY key DESC, doc_id ASC) AS rank
  FROM keyed)
SELECT doc_id, n_grams, round(logw, 6) AS logw, round(key, 6) AS key,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {DSIR_N}"""


MIX_FRACTIONS, MIX_DEFAULT, MIX_SEED = {"en": 0.5, "de": 0.1}, 0.02, 42


def q_stratified_sample(spark, sf_dir):
    """Domain-mixing sampler: per-stratum Bernoulli keep via the md5
    uniform — O(1) per row, window-free, nested across fraction sweeps."""
    from bertopic_spark.operators.distribution import stratified_sample

    return stratified_sample(_docs(spark, sf_dir), "lang", MIX_FRACTIONS,
                             default=MIX_DEFAULT, seed=MIX_SEED).select(
        "doc_id", "lang", "source", "n_chars")


def _sql_stratified_sample() -> str:
    cases = " ".join(
        f"WHEN lang = '{s}' THEN {f}" for s, f in sorted(MIX_FRACTIONS.items()))
    return f"""SELECT doc_id, lang, source, n_chars
FROM documents
WHERE CAST(concat('0x', substr(md5('{MIX_SEED}_' || CAST(doc_id AS VARCHAR)),
                               1, 15)) AS BIGINT) / CAST({16 ** 15} AS DOUBLE)
      < (CASE {cases} ELSE {MIX_DEFAULT} END)"""


CMS_D, CMS_W, CMS_SEED = 4, 64, 42


def q_cms_estimates(spark, sf_dir):
    """Count-min sketch term-frequency estimates: the sketch build shuffles
    a fixed depth×width grid regardless of vocabulary size; estimates are
    a |terms|×depth broadcast probe. md5-derived hashing — bit-identical
    across engines and partitionings."""
    from bertopic_spark.operators.sketch import cms_build, cms_estimate

    sk = cms_build(_docs(spark, sf_dir), "text", "doc_id", MODE,
                   depth=CMS_D, width=CMS_W, seed=CMS_SEED)
    terms = sorted({t for q in DRIVER_QUERIES.values()
                    for t in tokenize_one(q, MODE)})
    return cms_estimate(sk, terms, depth=CMS_D, width=CMS_W, seed=CMS_SEED)


def _sql_cms_estimates() -> str:
    terms = sorted({t for q in DRIVER_QUERIES.values()
                    for t in tokenize_one(q, MODE)})
    tvals = ", ".join(f"('{t}')" for t in terms)
    rvals = ", ".join(f"({r})" for r in range(CMS_D))
    bucket = (f"CAST(concat('0x', substr(md5('{CMS_SEED}_' || r.row || '_' "
              f"|| {{t}}), 1, 15)) AS BIGINT) % {CMS_W}")
    return f"""WITH
tk AS (SELECT {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
t2 AS (SELECT unnest(ts) AS term FROM tk),
g AS (SELECT r.row, {bucket.format(t='term')} AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM t2 CROSS JOIN (VALUES {rvals}) r(row)
      GROUP BY r.row, bucket),
p AS (SELECT q.term, r.row, {bucket.format(t='q.term')} AS bucket
      FROM (VALUES {tvals}) q(term) CROSS JOIN (VALUES {rvals}) r(row)),
e AS (SELECT p.term, p.row, coalesce(max(g.cnt), 0) AS c
      FROM p LEFT JOIN g ON g.row = p.row AND g.bucket = p.bucket
      GROUP BY p.term, p.row)
SELECT term, CAST(min(c) AS BIGINT) AS est FROM e GROUP BY term"""


BLOOM_K, BLOOM_BITS = 4, 1 << 12


def q_bloom_membership(spark, sf_dir):
    """Bloom membership: filter built over the corpus vocabulary (set bit
    positions only — broadcastable), probed with the driver queries' terms
    plus OOV controls. No false negatives by construction."""
    from bertopic_spark.operators.fulltext import term_dictionary
    from bertopic_spark.operators.sketch import bloom_build, bloom_contains

    d = term_dictionary(_docs(spark, sf_dir), "text", "doc_id", MODE)
    bloom = bloom_build(d, "term", k_hashes=BLOOM_K, n_bits=BLOOM_BITS)
    probes = sorted({t for q in DRIVER_QUERIES.values()
                     for t in tokenize_one(q, MODE)}
                    | {f"zzqx_oov_{i}" for i in range(8)})
    pdf = spark.createDataFrame([(t,) for t in probes], "term string")
    return bloom_contains(bloom, pdf, "term",
                          k_hashes=BLOOM_K, n_bits=BLOOM_BITS)


def _sql_bloom_membership() -> str:
    probes = sorted({t for q in DRIVER_QUERIES.values()
                     for t in tokenize_one(q, MODE)}
                    | {f"zzqx_oov_{i}" for i in range(8)})
    pvals = ", ".join(f"('{t}')" for t in probes)
    rvals = ", ".join(f"({r})" for r in range(BLOOM_K))
    bit = (f"CAST(concat('0x', substr(md5('42_' || r.row || '_' || {{v}}),"
           f" 1, 15)) AS BIGINT) % {BLOOM_BITS}")
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
vocab AS (SELECT DISTINCT unnest(ts) AS v FROM tk),
bloom AS (SELECT DISTINCT {bit.format(v='v')} AS bit
          FROM vocab CROSS JOIN (VALUES {rvals}) r(row)),
pb AS (SELECT q.value, r.row, {bit.format(v='q.value')} AS bit
       FROM (VALUES {pvals}) q(value) CROSS JOIN (VALUES {rvals}) r(row))
SELECT pb.value,
       count(b.bit) = count(DISTINCT pb.row) AS maybe
FROM pb LEFT JOIN bloom b ON b.bit = pb.bit
GROUP BY pb.value"""


HLL_P, HLL_SEED = 8, 42


def q_hll_distinct_terms(spark, sf_dir):
    """HyperLogLog distinct-term estimate with md5-derived registers —
    bit-identical across engines (unlike approx_count_distinct's HLL++);
    one groupBy of ≤ 2^p keys regardless of cardinality."""
    from bertopic_spark.operators.fulltext import doc_term_positions
    from bertopic_spark.operators.sketch import hll_estimate, hll_registers

    terms = doc_term_positions(_docs(spark, sf_dir), "text", "doc_id",
                               MODE).select("term")
    reg = hll_registers(terms, "term", p=HLL_P, seed=HLL_SEED)
    return hll_estimate(reg, p=HLL_P).select(_r6(F.col("est")).alias("est"))


def _sql_hll_distinct_terms() -> str:
    m = 1 << HLL_P
    alpha = 0.7213 / (1.0 + 1.079 / m) if m > 64 else {16: 0.673, 32: 0.697,
                                                       64: 0.709}[m]
    rho_max = 60 - HLL_P + 1
    return f"""WITH
tk AS (SELECT {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
t2 AS (SELECT unnest(ts) AS term FROM tk),
h AS (SELECT CAST(concat('0x', substr(md5('{HLL_SEED}_' || term), 1, 15))
              AS BIGINT) AS h FROM t2 WHERE term IS NOT NULL),
r AS (SELECT h % {m} AS idx,
             CASE WHEN CAST(floor(h / {m}) AS BIGINT) > 0
                  THEN {rho_max} - length(bin(CAST(floor(h / {m}) AS BIGINT)))
                  ELSE {rho_max} END AS rho
      FROM h),
reg AS (SELECT idx, max(rho) AS rho FROM r GROUP BY idx),
agg AS (SELECT sum(power(2.0, -rho)) AS s, count(*) AS nz FROM reg),
e AS (SELECT ({alpha * m * m}) / (s + ({m} - nz)) AS raw,
             {m} - nz AS zeros FROM agg)
SELECT round(CASE WHEN raw <= {2.5 * m} AND zeros > 0
             THEN {float(m)} * ln({float(m)} / zeros) ELSE raw END, 6) AS est
FROM e"""


THETA_K, THETA_SEED = 64, 7
THETA_PAIRS = (("query", "window"), ("scan", "merge"), ("spark", "customer"))


def q_theta_term_setops(spark, sf_dir):
    """KMV/theta sketch set algebra: per-term doc-id sketches (k smallest
    md5 hashes — built for all probe terms in ONE distinct + two-level
    bottom-k pass) answer union / intersection / difference cardinalities
    between posting sets from k-row summaries, never rescanning postings.
    DataSketches theta-family semantics; md5 hashing makes every estimate
    bit-identical across engines."""
    from bertopic_spark.operators.fulltext import doc_term_positions
    from bertopic_spark.operators.sketch import (kmv_estimate, kmv_sketch,
                                                 theta_set_ops)

    probe = sorted({t for p in THETA_PAIRS for t in p})
    dt = (doc_term_positions(_docs(spark, sf_dir), "text", "doc_id", MODE)
          .filter(F.col("term").isin(probe))
          .select("term", "doc_id").distinct())
    sk = kmv_sketch(dt, "doc_id", k=THETA_K, key_cols=["term"],
                    seed=THETA_SEED)
    est = kmv_estimate(sk, k=THETA_K, key_cols=["term"])
    ops = theta_set_ops(sk, THETA_PAIRS, k=THETA_K, key_col="term")
    ea = est.select(F.col("term").alias("key_a"),
                    F.col("n_hashes").alias("n_a"),
                    F.col("est").alias("_ea"))
    eb = est.select(F.col("term").alias("key_b"),
                    F.col("n_hashes").alias("n_b"),
                    F.col("est").alias("_eb"))
    return (ops.join(F.broadcast(ea), "key_a").join(F.broadcast(eb), "key_b")
            .select("key_a", "key_b", "n_a", "n_b",
                    _r6(F.col("_ea")).alias("est_a"),
                    _r6(F.col("_eb")).alias("est_b"),
                    _r6(F.col("theta")).alias("theta"),
                    "union_n", "inter_n", "diff_n",
                    _r6(F.col("union_est")).alias("union_est"),
                    _r6(F.col("inter_est")).alias("inter_est"),
                    _r6(F.col("diff_ab_est")).alias("diff_ab_est"),
                    _r6(F.col("jaccard")).alias("jaccard"))
            .orderBy("key_a", "key_b"))


def _sql_theta_setops() -> str:
    probe = sorted({t for p in THETA_PAIRS for t in p})
    terms = ", ".join(f"'{t}'" for t in probe)
    pairs = ", ".join(f"('{a}', '{b}')" for a, b in THETA_PAIRS)
    k, seed = THETA_K, THETA_SEED
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
dt AS (SELECT DISTINCT term, doc_id
       FROM (SELECT doc_id, unnest(ts) AS term FROM tk)
       WHERE term IN ({terms})),
hh AS (SELECT DISTINCT term,
              CAST(concat('0x', substr(md5('{seed}_' ||
                   CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              / 1152921504606846976.0 AS h
       FROM dt),
sk AS (SELECT term, h, rank FROM (
         SELECT term, h,
                row_number() OVER (PARTITION BY term ORDER BY h) AS rank
         FROM hh) WHERE rank <= {k}),
th AS (SELECT term, count(*) AS n, max(h) AS hk,
              CASE WHEN count(*) >= {k} THEN max(h) ELSE 1.0 END AS theta
       FROM sk GROUP BY term),
est AS (SELECT term, n,
               CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
                    ELSE {float(k - 1)} / hk END AS est
        FROM th),
pairs(key_a, key_b) AS (VALUES {pairs}),
pth AS (SELECT p.key_a, p.key_b, least(ta.theta, tb.theta) AS theta
        FROM pairs p JOIN th ta ON ta.term = p.key_a
                     JOIN th tb ON tb.term = p.key_b),
ab AS (SELECT key_a, key_b, h, max(ia) AS ia, max(ib) AS ib FROM (
         SELECT p.key_a, p.key_b, s.h, 1 AS ia, 0 AS ib
         FROM pth p JOIN sk s ON s.term = p.key_a WHERE s.h < p.theta
         UNION ALL
         SELECT p.key_a, p.key_b, s.h, 0, 1
         FROM pth p JOIN sk s ON s.term = p.key_b WHERE s.h < p.theta)
       GROUP BY key_a, key_b, h),
agg AS (SELECT key_a, key_b,
               CAST(count(*) AS BIGINT) AS union_n,
               CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS inter_n,
               CAST(sum(CASE WHEN ib = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS diff_n
        FROM ab GROUP BY key_a, key_b)
SELECT p.key_a, p.key_b, ea.n AS n_a, eb.n AS n_b,
       round(ea.est, 6) AS est_a, round(eb.est, 6) AS est_b,
       round(p.theta, 6) AS theta,
       coalesce(g.union_n, 0) AS union_n,
       coalesce(g.inter_n, 0) AS inter_n,
       coalesce(g.diff_n, 0) AS diff_n,
       round(coalesce(g.union_n, 0) / p.theta, 6) AS union_est,
       round(coalesce(g.inter_n, 0) / p.theta, 6) AS inter_est,
       round(coalesce(g.diff_n, 0) / p.theta, 6) AS diff_ab_est,
       round(CASE WHEN coalesce(g.union_n, 0) > 0
             THEN CAST(g.inter_n AS DOUBLE) / g.union_n
             ELSE 0.0 END, 6) AS jaccard
FROM pth p
JOIN est ea ON ea.term = p.key_a
JOIN est eb ON eb.term = p.key_b
LEFT JOIN agg g ON g.key_a = p.key_a AND g.key_b = p.key_b
ORDER BY p.key_a, p.key_b"""


def q_corpus_profile(spark, sf_dir):
    """Per-language corpus profile: counts, totals, mean and exact token
    percentiles (F.percentile ≡ DuckDB quantile_cont, bit-identical) —
    one tokenize pass, one groupBy(lang)."""
    from bertopic_spark.operators.textstats import corpus_profile

    out = corpus_profile(_docs(spark, sf_dir), "lang", "text", "doc_id", MODE)
    return out.select("lang", "n_docs", "total_tokens",
                      _r6(F.col("mean_tokens")).alias("mean_tokens"),
                      _r6(F.col("p50_tokens")).alias("p50_tokens"),
                      _r6(F.col("p90_tokens")).alias("p90_tokens"),
                      _r6(F.col("p99_tokens")).alias("p99_tokens"))


def _sql_corpus_profile() -> str:
    return f"""WITH
tk AS (SELECT lang, len({duckdb_tokens_sql('text', MODE)}) AS n_tokens
       FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(n_tokens), 6) AS mean_tokens,
       round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
       round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
       round(quantile_cont(n_tokens, 0.99), 6) AS p99_tokens
FROM tk GROUP BY lang"""


def q_search_query_indexed(spark, sf_dir):
    """The same query string served ENTIRELY from persisted index trees —
    scoring segments + positional segments + materialized dictionary built
    into a temp dir, then bucket-pruned serving with no corpus scan. Same
    oracle as the scan path: the two physical strategies must agree."""
    import shutil
    import tempfile

    from bertopic_spark.index.positions import write_positions
    from bertopic_spark.index.segments import (build_block_index,
                                               write_index_segments)
    from bertopic_spark.operators.bm25 import doc_scores
    from bertopic_spark.operators.fulltext import (doc_term_positions,
                                                   term_dictionary)
    from bertopic_spark.operators.querylang import search_query_indexed

    docs = _docs(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="gate_qlidx_")
    held = []
    try:
        sc = doc_scores(docs, "text", "doc_id", MODE, _persisted_out=held)
        write_index_segments(build_block_index(sc, span=512),
                             f"{root}/seg", n_buckets=16)
        write_positions(doc_term_positions(docs, "text", "doc_id", MODE),
                        f"{root}/pos", n_buckets=16)
        d = term_dictionary(docs, "text", "doc_id", MODE)
        out = search_query_indexed(
            spark, f"{root}/seg", f"{root}/pos", QL_QUERY, dictionary=d,
            meta=docs.select("doc_id", "lang"), k=10, mode=MODE)
        out = out.select("doc_id", _r6(F.col("score")).alias("score"),
                         F.col("rank").cast("long").alias("rn"))
        out = out.localCheckpoint(eager=True)
    finally:
        for x in held:
            x.unpersist()
        shutil.rmtree(root, ignore_errors=True)
    return out


LM_ALPHA = 0.5


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style quality signal: per-doc cross-entropy/perplexity under
    the Lidstone-smoothed corpus unigram LM. The LM is a vocabulary-sized
    (term, logp) relation — shuffle-joined, never broadcast."""
    from bertopic_spark.operators.textstats import lm_perplexity

    out = lm_perplexity(_docs(spark, sf_dir), "text", "doc_id", MODE,
                        alpha=LM_ALPHA)
    return out.select("doc_id", "n_tokens",
                      _r6(F.col("cross_entropy")).alias("cross_entropy"),
                      _r6(F.col("perplexity")).alias("perplexity"))


def _sql_lm_perplexity() -> str:
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
x AS (SELECT doc_id, unnest(ts) AS term FROM tk),
xc AS (SELECT doc_id, term, count(*) AS tf FROM x GROUP BY doc_id, term),
lm AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM xc GROUP BY term),
tot AS (SELECT sum(ctf) AS total, count(*) AS v FROM lm),
lp AS (SELECT term, ln((ctf + {LM_ALPHA}) / (tot.total + {LM_ALPHA} * tot.v))
              AS logp FROM lm CROSS JOIN tot),
dl AS (SELECT doc_id, len(ts) AS n FROM tk WHERE len(ts) > 0),
h AS (SELECT xc.doc_id, -sum(xc.tf * lp.logp) / dl.n AS ce,
             CAST(dl.n AS BIGINT) AS n_tokens
      FROM xc JOIN lp USING (term) JOIN dl ON dl.doc_id = xc.doc_id
      GROUP BY xc.doc_id, dl.n)
SELECT doc_id, n_tokens, round(ce, 6) AS cross_entropy,
       round(exp(ce), 6) AS perplexity
FROM h"""


LANGID_N = 3


def q_langid_ngram(spark, sf_dir):
    """Char-n-gram multinomial-NB language ID trained on the documents
    table's lang labels (resubstitution predictions — the gate checks the
    NB arithmetic, not generalization)."""
    from bertopic_spark.operators.textstats import langid_ngram

    return langid_ngram(_docs(spark, sf_dir), "text", "doc_id", "lang",
                        n=LANGID_N, alpha=LM_ALPHA)


def _sql_langid_ngram() -> str:
    return f"""WITH
g AS (SELECT doc_id, lang, lower(substr(text, i.i, {LANGID_N})) AS gram
      FROM documents,
      unnest(range(1, greatest(coalesce(length(text), 0) - {LANGID_N} + 1, 0)
                      + 1)) AS i(i)),
tg AS (SELECT lang AS label, gram, count(*) AS c FROM g GROUP BY label, gram),
stats AS (SELECT label, sum(c) AS tot FROM tg GROUP BY label),
vocab AS (SELECT count(DISTINCT gram) AS v FROM tg),
weights AS (SELECT label, gram, ln(c + {LM_ALPHA}) - ln({LM_ALPHA}) AS w
            FROM tg),
consts AS (SELECT label, ln({LM_ALPHA}) - ln(tot + {LM_ALPHA} * v) AS konst
           FROM stats CROSS JOIN vocab),
dg AS (SELECT doc_id, gram, count(*) AS tf FROM g GROUP BY doc_id, gram),
sparse AS (SELECT doc_id, label, sum(tf * w) AS s
           FROM dg JOIN weights USING (gram) GROUP BY doc_id, label),
dlen AS (SELECT doc_id,
                greatest(coalesce(length(text), 0) - {LANGID_N} + 1, 0) AS glen
         FROM documents),
sims AS (SELECT dlen.doc_id, consts.label,
                coalesce(sparse.s, 0) + dlen.glen * consts.konst AS score
         FROM dlen CROSS JOIN consts
         LEFT JOIN sparse ON sparse.doc_id = dlen.doc_id
                         AND sparse.label = consts.label),
r AS (SELECT doc_id, label, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, label ASC) AS rn
      FROM sims)
SELECT doc_id, label AS pred_lang, round(score, 6) AS score
FROM r WHERE rn = 1"""


SESSION_GAP_MIN = 30


def q_sessionize_events(spark, sf_dir):
    """Session windows over the events table (session_window semantics:
    a session ends gap after its last event)."""
    from bertopic_spark.streaming.incremental import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessionize(ev, "ts", ["user_id"], f"{SESSION_GAP_MIN} minutes",
                     value_col="value")
    return out.select("user_id", "session_start", "session_end",
                      F.col("n_events").cast("long").alias("n_events"),
                      _r6(F.col("sum_value")).alias("sum_value"))


def _sql_sessionize_events() -> str:
    return f"""WITH
o AS (SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value
FROM s GROUP BY user_id, sid"""


PRUNE_FRAC, PRUNE_MIN = 0.2, 10


def q_pruned_bm25_topk(spark, sf_dir):
    """Static index pruning (Carmel et al. 2001): per term keep the
    strongest max(min_keep, ceil(frac*df)) postings, then serve top-10
    BM25 from the pruned relation."""
    from bertopic_spark.operators.bm25 import (bm25_topk, doc_scores,
                                               prune_index)

    scores = doc_scores(_docs(spark, sf_dir), "text", "doc_id", MODE)
    pruned = prune_index(scores, "doc_id", PRUNE_FRAC, PRUNE_MIN)
    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = bm25_topk(pruned, qt, k=10)
    return t.select("query_id", "doc_id", _r6(F.col("score")).alias("score"),
                    F.col("rank").cast("long").alias("rn"))


def _sql_pruned_bm25_topk() -> str:
    return f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
pruned AS (
  SELECT term, doc_id, score FROM (
    SELECT term, doc_id, score,
           row_number() OVER (PARTITION BY term
                              ORDER BY score DESC, doc_id ASC) AS prn,
           count(*) OVER (PARTITION BY term) AS dft
    FROM scores)
  WHERE prn <= greatest({PRUNE_MIN},
                        CAST(ceil({PRUNE_FRAC} * dft) AS BIGINT))),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, p.doc_id, sum(p.score) AS score
  FROM q JOIN pruned p USING (term) GROUP BY q.query_id, p.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT query_id, doc_id, round(score, 6) AS score, rn
FROM ranked WHERE rn <= 10"""


DUPSPAN_K = 8


def q_dup_spans(spark, sf_dir):
    """Exact-substring dedup signal (Lee et al. 2022): k-token windows
    shared across >= 2 documents, md5-keyed before the shuffle."""
    from bertopic_spark.operators.dedup import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), "text", "doc_id",
                           k=DUPSPAN_K, mode=MODE)


def _sql_dup_spans() -> str:
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
w AS (SELECT doc_id,
             md5(array_to_string(ts[i.i:i.i + {DUPSPAN_K - 1}], ' ')) AS window_hash
      FROM tk,
      unnest(range(1, greatest(len(ts) - {DUPSPAN_K} + 1, 0) + 1)) AS i(i))
SELECT window_hash, count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences, min(doc_id) AS first_doc_id
FROM w GROUP BY window_hash HAVING count(DISTINCT doc_id) >= 2"""


GRAPH_V, GRAPH_MINW, GRAPH_ITERS, GRAPH_K = 50, 2, 5, 25


def q_cooccurrence_edges(spark, sf_dir):
    """Term co-occurrence graph (operators/graph.py): top-V-vocab-pruned
    doc-level self-join — fan-out capped at C(V,2) regardless of corpus
    size; the scale knob for TextRank/link analysis."""
    from bertopic_spark.operators.graph import cooccurrence_edges

    return cooccurrence_edges(_docs(spark, sf_dir), "text", "doc_id",
                              v=GRAPH_V, min_w=GRAPH_MINW, mode=MODE)


def _sql_graph_base() -> str:
    """Shared CTE prefix: tokens → distinct doc-terms → top-V vocab →
    co-occurrence edges (src < dst, weight = co-document count)."""
    return f"""tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
dt AS (SELECT doc_id, unnest(list_distinct(ts)) AS term FROM tk),
dfs AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
vocab AS (SELECT term FROM dfs ORDER BY df DESC, term ASC LIMIT {GRAPH_V}),
dtv AS (SELECT dt.doc_id, dt.term FROM dt JOIN vocab USING (term)),
ed AS (SELECT a.term AS src, b.term AS dst, CAST(count(*) AS BIGINT) AS w
       FROM dtv a JOIN dtv b USING (doc_id)
       WHERE a.term < b.term GROUP BY 1, 2
       HAVING count(*) >= {GRAPH_MINW})"""


def _sql_cooccurrence_edges() -> str:
    return f"WITH\n{_sql_graph_base()}\nSELECT src, dst, w FROM ed"


def q_textrank_keywords(spark, sf_dir):
    """TextRank keywords (operators/graph.py): weighted PageRank over the
    co-occurrence graph, fixed {GRAPH_ITERS} power iterations (cross-engine
    reproducible), top-k ranked on the 6-dp-rounded score so rank order is
    identical in both engines at the hash tolerance."""
    from bertopic_spark.operators.graph import cooccurrence_edges, pagerank

    e = cooccurrence_edges(_docs(spark, sf_dir), "text", "doc_id",
                           v=GRAPH_V, min_w=GRAPH_MINW, mode=MODE)
    pr = pagerank(e, damping=0.85, iters=GRAPH_ITERS, undirected=True)
    s = pr.select(F.col("node").alias("term"),
                  _r6(F.col("score")).alias("score"))
    w = Window.orderBy(F.desc("score"), F.asc("term"))
    return (s.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= GRAPH_K))


def q_hits_bigram(spark, sf_dir):
    """Kleinberg HITS over the directed bigram precedence graph (top-50
    vocabulary): (term, authority, hub), L2-normalized per half-step,
    fixed 5 power iterations — cross-engine reproducible. All nodes
    returned unranked (the compare is order-insensitive)."""
    from bertopic_spark.operators.graph import bigram_edges, hits

    e = bigram_edges(_docs(spark, sf_dir), "text", "doc_id",
                     v=GRAPH_V, min_w=GRAPH_MINW, mode=MODE)
    out = hits(e, iters=GRAPH_ITERS)
    return out.select(F.col("node").alias("term"),
                      _r6(F.col("authority")).alias("authority"),
                      _r6(F.col("hub")).alias("hub"))


def _sql_hits_bigram() -> str:
    steps = []
    for i in range(GRAPH_ITERS):
        steps.append(f"""ra{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(e.w * h.s) AS r
  FROM e JOIN h{i} h ON h.node = e.src GROUP BY e.dst),
an{i} AS MATERIALIZED (SELECT sqrt(sum(r * r)) AS nrm FROM ra{i}),
a{i + 1} AS MATERIALIZED (
  SELECT n.node,
         CASE WHEN an.nrm > 0 THEN coalesce(ra.r, 0) / an.nrm ELSE 0 END AS s
  FROM nodes n LEFT JOIN ra{i} ra USING (node) CROSS JOIN an{i} an),
rh{i} AS MATERIALIZED (
  SELECT e.src AS node, sum(e.w * a.s) AS r
  FROM e JOIN a{i + 1} a ON a.node = e.dst GROUP BY e.src),
hn{i} AS MATERIALIZED (SELECT sqrt(sum(r * r)) AS nrm FROM rh{i}),
h{i + 1} AS MATERIALIZED (
  SELECT n.node,
         CASE WHEN hn.nrm > 0 THEN coalesce(rh.r, 0) / hn.nrm ELSE 0 END AS s
  FROM nodes n LEFT JOIN rh{i} rh USING (node) CROSS JOIN hn{i} hn)""")
    chain = ",\n".join(steps)
    return f"""WITH tk AS MATERIALIZED (
  SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
dt AS (SELECT doc_id, unnest(list_distinct(ts)) AS term FROM tk),
dfs AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
vocab AS MATERIALIZED (
  SELECT term FROM dfs ORDER BY df DESC, term ASC LIMIT {GRAPH_V}),
bge AS (
  SELECT z[1] AS src, z[2] AS dst, count(*) AS w
  FROM (SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS z
        FROM tk WHERE len(ts) >= 2)
  GROUP BY 1, 2),
e AS MATERIALIZED (
  SELECT b.src, b.dst, CAST(b.w AS DOUBLE) AS w
  FROM bge b JOIN vocab v1 ON v1.term = b.src JOIN vocab v2 ON v2.term = b.dst
  WHERE b.w >= {GRAPH_MINW}),
nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, 1.0 AS s FROM nodes),
{chain}
SELECT n.node AS term, round(a.s, 6) AS authority, round(h.s, 6) AS hub
FROM nodes n JOIN a{GRAPH_ITERS} a USING (node) JOIN h{GRAPH_ITERS} h USING (node)"""


def _sql_textrank_keywords() -> str:
    steps = []
    prev = "r0"
    for i in range(1, GRAPH_ITERS + 1):
        steps.append(f"""r{i} AS (
  SELECT t.dst AS node,
         0.15 / (SELECT n FROM nv) + 0.85 * sum(t.p * r.score) AS score
  FROM tr t JOIN {prev} r ON r.node = t.src GROUP BY t.dst)""")
        prev = f"r{i}"
    chain = ",\n".join(steps)
    return f"""WITH
{_sql_graph_base()},
sym AS (SELECT src, dst, CAST(w AS DOUBLE) AS w FROM ed
        UNION ALL SELECT dst, src, CAST(w AS DOUBLE) FROM ed),
deg AS (SELECT src, sum(w) AS wdeg FROM sym GROUP BY src),
nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
tr AS (SELECT s.src, s.dst, s.w / d.wdeg AS p FROM sym s JOIN deg d USING (src)),
r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nv) AS score FROM deg),
{chain},
rounded AS (SELECT node AS term, round(score, 6) AS score FROM {prev}),
ranked AS (SELECT term, score,
                  row_number() OVER (ORDER BY score DESC, term ASC) AS rank
           FROM rounded)
SELECT term, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {GRAPH_K}"""


def q_asof_click_purchase(spark, sf_dir):
    """As-of join (operators/temporal.asof_join): each click enriched
    with the user's latest purchase at-or-before it — union-tag + one
    window pass per key (|L|+|R|, never a range-join candidate blowup).
    Oracle is DuckDB's NATIVE ASOF JOIN."""
    from bertopic_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("p_id"), "value")
    out = asof_join(clicks, purchases, ["user_id"], "ts",
                    right_cols=["p_id", "value"], suffix="_p")
    return out.select(
        "event_id", "user_id", "ts",
        F.col("ts_p").alias("purchase_ts"),
        F.col("p_id_p").alias("purchase_id"),
        _r6(F.col("value_p")).alias("purchase_value"),
    )


SQL_ASOF = """WITH
l AS (SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'click'),
r AS (SELECT user_id, ts, event_id AS p_id, value FROM events
      WHERE event_type = 'purchase')
SELECT l.event_id, l.user_id, l.ts, r.ts AS purchase_ts,
       r.p_id AS purchase_id, round(r.value, 6) AS purchase_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"""


def q_range_click_purchase(spark, sf_dir):
    """Range (band) join (operators/temporal.range_join): all purchases
    in the hour BEFORE each click, per user — bucketized by the band
    width into an equi-join (≤2 bucket probes per left row), never a
    per-key cartesian. Oracle is the plain inequality join."""
    from bertopic_spark.operators.temporal import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"),
        F.col("event_id").alias("p_id"), "value")
    out = range_join(clicks, purchases, ["user_id"], "ts", "pts",
                     -3600.0, 0.0)
    return out.select(
        "event_id", "user_id", "ts",
        F.col("pts_right").alias("purchase_ts"),
        F.col("p_id_right").alias("purchase_id"),
        _r6(F.col("value_right")).alias("purchase_value"),
    )


SQL_RANGE_JOIN = """WITH
l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
r AS (SELECT user_id, ts AS pts, event_id AS p_id, value FROM events
      WHERE event_type = 'purchase')
SELECT l.event_id, l.user_id, l.ts, r.pts AS purchase_ts,
       r.p_id AS purchase_id, round(r.value, 6) AS purchase_value
FROM l JOIN r ON l.user_id = r.user_id
             AND r.pts >= l.ts - INTERVAL 1 HOUR AND r.pts <= l.ts"""


def q_events_rollup_day(spark, sf_dir):
    """Continuous-aggregate rollup (operators/rollup.rollup_levels): the
    DAY level is re-aggregated from the HOUR level (raw scanned once, at
    the finest grain only); the oracle aggregates days straight from raw
    — algebraic measures make the two provably equal."""
    from bertopic_spark.operators.rollup import rollup_levels

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    day = rollup_levels(ev, "ts", ["event_type"], "value",
                        levels=("hour", "day"))["day"]
    # avg derived from the 6dp-rounded sum so both engines divide the
    # IDENTICAL numerator (a raw two-stage sum can land a hair under an
    # exact rounding boundary that the oracle's one-stage sum sits on)
    return day.select(
        "bucket", "event_type", "n", _r6(F.col("sum_v")).alias("sum_v"),
        _r6(F.col("min_v")).alias("min_v"), _r6(F.col("max_v")).alias("max_v"),
        _r6(_r6(F.col("sum_v")) / F.col("n")).alias("avg_v"))


SQL_ROLLUP_DAY = """SELECT date_trunc('day', ts) AS bucket, event_type,
       CAST(count(*) AS BIGINT) AS n, round(sum(value), 6) AS sum_v,
       round(min(value), 6) AS min_v, round(max(value), 6) AS max_v,
       round(round(sum(value), 6) / count(*), 6) AS avg_v
FROM events GROUP BY 1, 2"""


def q_suggest_index(spark, sf_dir):
    """Materialized suggest-as-you-type completions (operators/fulltext.
    suggest_index): per term-prefix (len 2-4) the top-8 completions by df
    — serving a keystroke is a point lookup, never a dictionary scan."""
    from bertopic_spark.operators.fulltext import suggest_index, term_dictionary

    d = term_dictionary(_docs(spark, sf_dir), "text", "doc_id", MODE)
    return suggest_index(d, min_len=2, max_len=4, k=8)


SQL_SUGGEST_INDEX = f"""WITH {_TOKS},
dt AS (SELECT DISTINCT doc_id, term FROM toks),
dict AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY term),
pre AS (
  SELECT substring(term, 1, n.n) AS prefix, term, df
  FROM dict, unnest(range(2, least(length(term), 4) + 1)) AS n(n)
  WHERE length(term) >= 2),
ranked AS (
  SELECT prefix, term, df,
         row_number() OVER (PARTITION BY prefix
                            ORDER BY df DESC, term ASC) AS rank
  FROM pre)
SELECT prefix, term, df, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 8"""


def q_events_cube(spark, sf_dir):
    """OLAP cube over (event_type, day): all four grouping sets in one
    pass (Spark CUBE = partial-agg-friendly expand + one shuffle);
    oracle is DuckDB GROUP BY CUBE."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.select(F.col("event_type"),
                      F.date_trunc("day", "ts").alias("day"), "value")
            .cube("event_type", "day")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 _r6(F.sum("value")).alias("sum_v")))


SQL_EVENTS_CUBE = """SELECT event_type, date_trunc('day', ts) AS day,
       CAST(count(*) AS BIGINT) AS n, round(sum(value), 6) AS sum_v
FROM events GROUP BY CUBE (event_type, date_trunc('day', ts))"""


def q_events_rolling_24h(spark, sf_dir):
    """Rolling 24-hour window per event type (RANGE frame over event-time
    seconds): count and sum of the trailing day at every event — the
    moving-aggregate surface, windowed by RANGE not ROWS."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = (Window.partitionBy("event_type")
         .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
         .rangeBetween(-86400 * 1_000_000, 0))
    return (ev.select("event_id", "event_type", "ts", "value")
            .withColumn("n_24h", F.count(F.lit(1)).over(w).cast("long"))
            .withColumn("sum_24h", _r6(F.sum("value").over(w)))
            .select("event_id", "event_type", "ts", "n_24h", "sum_24h"))


SQL_EVENTS_ROLLING = """SELECT event_id, event_type, ts,
       CAST(count(*) OVER w AS BIGINT) AS n_24h,
       round(sum(value) OVER w, 6) AS sum_24h
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts
             RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)"""


def q_okapi_wand_topk(spark, sf_dir):
    """Okapi served through the block-max pruned serving kernel
    (okapi_doc_scores → build_block_index → write_index_segments into a
    temp dir → serve_topk): the same compressed-block machinery runs a
    second ranking function because the blocks carry score-free
    (doc gap, tf, doc length) streams and the tree names its scorer
    (okapi, k1, b, avgdl) beside each term's RSJ idf. At span 512 the
    sf0.1 documents fall into 10 doc-range buckets, so the pruning runs.
    Oracle = the
    exhaustive Okapi SQL (pruned path, same truth)."""
    import shutil
    import tempfile

    from bertopic_spark.index.segments import (build_block_index, serve_topk,
                                               write_index_segments)
    from bertopic_spark.operators.bm25 import okapi_doc_scores

    d = _docs(spark, sf_dir)
    qts: dict = {}
    for r in query_terms(queries_df(spark, DRIVER_QUERIES), MODE).collect():
        qts.setdefault(r["query_id"], []).append(r["term"])
    root = tempfile.mkdtemp(prefix="gate_okapi_")
    held: list = []
    try:
        rel = okapi_doc_scores(d, k1=OKAPI_K1, b=OKAPI_B, text_col="text",
                               mode=MODE, _persisted_out=held)
        write_index_segments(build_block_index(rel, span=512), f"{root}/seg",
                             n_buckets=16)
        t = serve_topk(spark, f"{root}/seg", qts, k=10)
        out = t.select(
            "query_id", "doc_id", _r6(F.col("score")).alias("score"),
            F.col("rank").cast("long").alias("rn"),
        ).localCheckpoint(eager=True)
    finally:
        for x in held:
            x.unpersist()
        shutil.rmtree(root, ignore_errors=True)
    return out


FUSE_LEG_K, FUSE_K = 20, 10


def q_combmnz_fuse(spark, sf_dir):
    """CombMNZ score fusion (operators/bm25.combsum_fuse): the class-based
    BM25 leg and the Okapi leg min-max-normalized per query then fused
    with an agreement multiplier — the calibrated complement to RRF."""
    from bertopic_spark.operators.bm25 import (combsum_fuse, doc_scores,
                                               okapi_bm25_topk)

    d = _docs(spark, sf_dir)
    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    handles: list = []
    scores = doc_scores(d, text_col="text", id_col="doc_id", mode=MODE,
                        _persisted_out=handles)
    leg_a = bm25_topk(scores, qt, k=FUSE_LEG_K)
    leg_b = okapi_bm25_topk(d, qt, k=FUSE_LEG_K, k1=OKAPI_K1, b=OKAPI_B,
                            text_col="text", mode=MODE)
    out = combsum_fuse([leg_a, leg_b], k=FUSE_K, mnz=True)
    return out.select("query_id", "doc_id", _r6(F.col("score")).alias("score"),
                      "n_legs", F.col("rank").cast("long").alias("rn"))


def _sql_combmnz() -> str:
    return f"""WITH {_TOKS}, {_XDOC},
{_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
ahits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM q JOIN scores s USING (term) GROUP BY q.query_id, s.doc_id),
aleg AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM ahits QUALIFY rn <= {FUSE_LEG_K}),
odl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
ons AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM odl),
odfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
ohits AS (
  SELECT q.query_id, x.doc_id,
         sum(ln(1.0 + (ns.n - odfs.df + 0.5) / (odfs.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * odl.dl / ns.avgdl))) AS score
  FROM q JOIN xdoc x USING (term) JOIN odfs USING (term)
       JOIN odl ON odl.doc_id = x.doc_id CROSS JOIN ons ns
  GROUP BY q.query_id, x.doc_id),
oleg AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM ohits QUALIFY rn <= {FUSE_LEG_K}),
normed AS (
  SELECT query_id, doc_id,
         round(CASE WHEN max(score) OVER (PARTITION BY query_id) =
                         min(score) OVER (PARTITION BY query_id)
               THEN 1.0
               ELSE (score - min(score) OVER (PARTITION BY query_id)) /
                    (max(score) OVER (PARTITION BY query_id) -
                     min(score) OVER (PARTITION BY query_id)) END, 9) AS c
  FROM aleg
  UNION ALL
  SELECT query_id, doc_id,
         round(CASE WHEN max(score) OVER (PARTITION BY query_id) =
                         min(score) OVER (PARTITION BY query_id)
               THEN 1.0
               ELSE (score - min(score) OVER (PARTITION BY query_id)) /
                    (max(score) OVER (PARTITION BY query_id) -
                     min(score) OVER (PARTITION BY query_id)) END, 9) AS c
  FROM oleg),
fused AS (
  SELECT query_id, doc_id, sum(c) * count(*) AS score,
         CAST(count(*) AS BIGINT) AS n_legs
  FROM normed GROUP BY query_id, doc_id),
franked AS (
  SELECT query_id, doc_id, score, n_legs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM fused)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       round(score, 6) AS score, n_legs, CAST(rn AS BIGINT) AS rn
FROM franked WHERE rn <= {FUSE_K}"""


GRAPHG_V, GRAPHG_K = 30, 10


def q_textrank_per_class(spark, sf_dir):
    """Per-class TextRank (operators/graph.pagerank_grouped): every lang's
    term graph built and power-iterated in the SAME loop — the algebra is
    keyed by (lang, node), so a thousand class graphs cost one iteration
    loop, not a driver loop over classes."""
    from bertopic_spark.operators.graph import (cooccurrence_edges_grouped,
                                                pagerank_grouped)

    e = cooccurrence_edges_grouped(_docs(spark, sf_dir), "text", "doc_id",
                                   ["lang"], v=GRAPHG_V, min_w=GRAPH_MINW,
                                   mode=MODE)
    pr = pagerank_grouped(e, ["lang"], damping=0.85, iters=GRAPH_ITERS)
    s = pr.select("lang", F.col("node").alias("term"),
                  _r6(F.col("score")).alias("score"))
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("term"))
    return (s.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= GRAPHG_K))


def _sql_textrank_per_class() -> str:
    steps = []
    prev = "r0"
    for i in range(1, GRAPH_ITERS + 1):
        steps.append(f"""r{i} AS (
  SELECT t.lang, t.dst AS node,
         0.15 * ng.inv_n + 0.85 * sum(t.p * r.score) AS score
  FROM tr t JOIN {prev} r ON r.lang = t.lang AND r.node = t.src
       JOIN ng ON ng.lang = t.lang
  GROUP BY t.lang, t.dst, ng.inv_n)""")
        prev = f"r{i}"
    chain = ",\n".join(steps)
    return f"""WITH
tk AS (SELECT doc_id, lang, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
dt AS (SELECT doc_id, lang, unnest(list_distinct(ts)) AS term FROM tk),
dfs AS (SELECT lang, term, count(*) AS df FROM dt GROUP BY lang, term),
vocab AS (SELECT lang, term FROM (
  SELECT lang, term,
         row_number() OVER (PARTITION BY lang ORDER BY df DESC, term ASC) AS vr
  FROM dfs) WHERE vr <= {GRAPHG_V}),
dtv AS (SELECT dt.doc_id, dt.lang, dt.term
        FROM dt JOIN vocab ON vocab.lang = dt.lang AND vocab.term = dt.term),
ed AS (SELECT a.lang, a.term AS src, b.term AS dst,
              CAST(count(*) AS BIGINT) AS w
       FROM dtv a JOIN dtv b ON a.doc_id = b.doc_id AND a.lang = b.lang
       WHERE a.term < b.term GROUP BY a.lang, a.term, b.term
       HAVING count(*) >= {GRAPH_MINW}),
sym AS (SELECT lang, src, dst, CAST(w AS DOUBLE) AS w FROM ed
        UNION ALL SELECT lang, dst, src, CAST(w AS DOUBLE) FROM ed),
deg AS (SELECT lang, src, sum(w) AS wdeg FROM sym GROUP BY lang, src),
ng AS (SELECT lang, 1.0 / count(*) AS inv_n FROM deg GROUP BY lang),
tr AS (SELECT s.lang, s.src, s.dst, s.w / d.wdeg AS p
       FROM sym s JOIN deg d ON d.lang = s.lang AND d.src = s.src),
r0 AS (SELECT deg.lang, deg.src AS node, ng.inv_n AS score
       FROM deg JOIN ng ON ng.lang = deg.lang),
{chain},
rounded AS (SELECT lang, node AS term, round(score, 6) AS score FROM {prev}),
ranked AS (SELECT lang, term, score,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY score DESC, term ASC) AS rank
           FROM rounded)
SELECT lang, term, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {GRAPHG_K}"""


# ---------------------------------------------------------------------------
# Rescore window / dis_max / boosting (Lucene-ES second-pass ranking family)
# ---------------------------------------------------------------------------

RESCORE_W, RESCORE_QW, RESCORE_RW = 30, 1.0, 2.0


def q_rescore_topk(spark, sf_dir):
    """Elasticsearch rescore window (operators/bm25.rescore_topk): cheap
    Okapi BM25 first pass, top-30 window per query rescored with Dirichlet
    query likelihood, final = 1.0·bm25 + 2.0·lm re-ranked inside the
    window. The second pass touches only |queries|·window docs."""
    from bertopic_spark.operators.bm25 import rescore_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = rescore_topk(_docs(spark, sf_dir), qt, k=10, window_size=RESCORE_W,
                     query_weight=RESCORE_QW, rescore_weight=RESCORE_RW,
                     mu=LM_MU, k1=OKAPI_K1, b=OKAPI_B,
                     text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_RESCORE = f"""WITH {_TOKS}, {_XDOC},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(ln(1.0 + (ns.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * dl.dl / ns.avgdl))) AS bm25
  FROM q JOIN xdoc x USING (term) JOIN dfs USING (term)
       JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN nstats ns
  GROUP BY q.query_id, x.doc_id),
wnd AS (
  SELECT query_id, doc_id, bm25,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY bm25 DESC, doc_id ASC) AS wrn
  FROM hits),
w2 AS (SELECT query_id, doc_id, bm25 FROM wnd WHERE wrn <= {RESCORE_W}),
cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM xdoc GROUP BY term),
tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM xdoc),
qv AS (SELECT q.query_id, q.term FROM q JOIN cf USING (term)),
nq AS (SELECT query_id, count(*) AS n_q FROM qv GROUP BY query_id),
lmh AS (
  SELECT qv.query_id, x.doc_id,
         sum(ln(1.0 + x.tf * tot.total / ({LM_MU} * cf.cf))) AS ql
  FROM qv JOIN xdoc x USING (term) JOIN cf USING (term) CROSS JOIN tot
       JOIN w2 ON w2.query_id = qv.query_id AND w2.doc_id = x.doc_id
  GROUP BY qv.query_id, x.doc_id),
lms AS (
  SELECT l.query_id, l.doc_id,
         l.ql + nq.n_q * ln({LM_MU} / (dl.dl + {LM_MU})) AS lm
  FROM lmh l JOIN dl USING (doc_id) JOIN nq USING (query_id)),
fin AS (
  SELECT w2.query_id, w2.doc_id,
         {RESCORE_QW} * w2.bm25 + {RESCORE_RW} * lms.lm AS score
  FROM w2 JOIN lms ON lms.query_id = w2.query_id
                  AND lms.doc_id = w2.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM fin)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


DISMAX_TIE = 0.3


def q_dismax_topk(spark, sf_dir):
    """Lucene DisjunctionMaxQuery / ES dis_max over (text, title) fields
    (operators/bm25.dismax_topk): per-field Okapi BM25 with per-field
    stats (the short title field has its own dl/avgdl/df), score =
    max + 0.3·(sum − max). title = first 80 chars of text — the usual
    short-vs-body field asymmetry dis_max exists for."""
    from bertopic_spark.operators.bm25 import dismax_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    d = _docs(spark, sf_dir).withColumn("title", F.substring("text", 1, 80))
    t = dismax_topk(d, qt, ["text", "title"],
                    tie_breaker=DISMAX_TIE, k=10, k1=OKAPI_K1, b=OKAPI_B,
                    mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_DISMAX = f"""WITH {_TOKS}, {_XDOC},
dl1 AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
ns1 AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl1),
df1 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
tk2 AS (SELECT doc_id,
               unnest({duckdb_tokens_sql('substr(text, 1, 80)', MODE)}) AS term
        FROM documents),
x2 AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tk2 GROUP BY doc_id, term),
dl2 AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM x2 GROUP BY doc_id),
ns2 AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl2),
df2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM x2 GROUP BY term),
q(query_id, term) AS (VALUES {_query_term_values()}),
h1 AS (
  SELECT q.query_id, x.doc_id,
         sum(ln(1.0 + (ns.n - f.df + 0.5) / (f.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * d.dl / ns.avgdl))) AS s
  FROM q JOIN xdoc x USING (term) JOIN df1 f USING (term)
       JOIN dl1 d ON d.doc_id = x.doc_id CROSS JOIN ns1 ns
  GROUP BY q.query_id, x.doc_id),
h2 AS (
  SELECT q.query_id, x.doc_id,
         sum(ln(1.0 + (ns.n - f.df + 0.5) / (f.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * d.dl / ns.avgdl))) AS s
  FROM q JOIN x2 x USING (term) JOIN df2 f USING (term)
       JOIN dl2 d ON d.doc_id = x.doc_id CROSS JOIN ns2 ns
  GROUP BY q.query_id, x.doc_id),
u AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2),
dm AS (SELECT query_id, doc_id,
              max(s) + {DISMAX_TIE} * (sum(s) - max(s)) AS score
       FROM u GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM dm)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


BOOST_NEG_TERMS, BOOST_NEG = ["slow", "filter"], 0.5


def q_boosting_topk(spark, sf_dir):
    """Lucene BoostingQuery / ES boosting query (operators/bm25.
    boosting_topk): Okapi BM25 positive disjunction; docs containing a
    negative term are demoted ×0.5 instead of filtered."""
    from bertopic_spark.operators.bm25 import boosting_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = boosting_topk(_docs(spark, sf_dir), qt, BOOST_NEG_TERMS,
                      negative_boost=BOOST_NEG, k=10, k1=OKAPI_K1,
                      b=OKAPI_B, text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("demoted").cast("long").alias("demoted"),
        F.col("rank").cast("long").alias("rn"),
    )


def _sql_boosting() -> str:
    neg = ", ".join(f"'{t}'" for t in BOOST_NEG_TERMS)
    return f"""WITH {_TOKS}, {_XDOC},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(ln(1.0 + (ns.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * dl.dl / ns.avgdl))) AS pos
  FROM q JOIN xdoc x USING (term) JOIN dfs USING (term)
       JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN nstats ns
  GROUP BY q.query_id, x.doc_id),
neg AS (SELECT DISTINCT doc_id FROM xdoc WHERE term IN ({neg})),
dem AS (
  SELECT h.query_id, h.doc_id,
         CASE WHEN n.doc_id IS NULL THEN h.pos
              ELSE h.pos * {BOOST_NEG} END AS score,
         CASE WHEN n.doc_id IS NULL THEN 0 ELSE 1 END AS demoted
  FROM hits h LEFT JOIN neg n ON n.doc_id = h.doc_id),
ranked AS (
  SELECT query_id, doc_id, score, demoted,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM dem)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(demoted AS BIGINT) AS demoted, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


DMIX_TEMP, DMIX_FRAC, DMIX_SEED = 0.7, 0.4, 42


def q_domain_mix_sample(spark, sf_dir):
    """Temperature-reweighted training-mix sampling (operators/pipeline.
    domain_mix_plan + domain_mix_sample): per-lang token budgets from
    share^0.7 renormalized against 40% of the corpus, realized by the
    engine's deterministic md5-ordered inclusive-cumsum selection —
    (doc_id, lang, n_tokens) keep list, reproducible across partitionings
    and cluster sizes."""
    from bertopic_spark.operators.pipeline import (domain_mix_plan,
                                                   domain_mix_sample)

    d = _docs(spark, sf_dir)
    total = d.agg(F.sum(F.col("n_chars").cast("long"))).collect()[0][0]
    plan = domain_mix_plan(d, "lang", "n_chars",
                           budget=DMIX_FRAC * total, temperature=DMIX_TEMP)
    return domain_mix_sample(d, plan, "lang", "n_chars", "doc_id",
                             seed=DMIX_SEED)


def _sql_domain_mix() -> str:
    return f"""WITH
per AS (SELECT lang AS domain, CAST(sum(n_chars) AS BIGINT) AS t
        FROM documents GROUP BY lang),
tot AS (SELECT sum(t) AS t_all FROM per),
sh AS (SELECT domain, t, t / t_all AS share FROM per CROSS JOIN tot),
pw AS (SELECT domain, t, power(share, {DMIX_TEMP}) AS pw FROM sh),
z AS (SELECT sum(pw) AS z FROM pw),
plan AS (SELECT domain,
                least(pw / z * ({DMIX_FRAC} * (SELECT t_all FROM tot)),
                      CAST(t AS DOUBLE)) AS target
         FROM pw CROSS JOIN z),
ordered AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_tokens,
         sum(CAST(n_chars AS BIGINT)) OVER (
           PARTITION BY lang
           ORDER BY md5(concat('{DMIX_SEED}_', CAST(doc_id AS VARCHAR))),
                    doc_id) AS cum
  FROM documents)
SELECT o.doc_id, o.lang, o.n_tokens
FROM ordered o JOIN plan p ON p.domain = o.lang
WHERE o.cum <= p.target"""


HIST_LO, HIST_HI, HIST_BINS, HIST_QS = 0.0, 250.0, 50, (0.5, 0.95, 0.99)


def q_quantile_sketch(spark, sf_dir):
    """Mergeable fixed-grid histogram quantiles (operators/sketch.
    histogram_sketch + histogram_quantiles): per event_type p50/p95/p99
    of events.value from a 50-bin [0,250) grid — bit-identical across
    partitionings/merges, the deterministic t-digest stand-in completing
    the CMS/Bloom/HLL sketch family."""
    from bertopic_spark.operators.sketch import (histogram_quantiles,
                                                 histogram_sketch)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sk = histogram_sketch(ev, "value", HIST_LO, HIST_HI, HIST_BINS,
                          ["event_type"])
    out = histogram_quantiles(sk, HIST_QS, HIST_LO, HIST_HI, HIST_BINS,
                              ["event_type"])
    return out.select("event_type", "q", _r6(F.col("est")).alias("est"))


def _sql_quantile_sketch() -> str:
    w = (HIST_HI - HIST_LO) / HIST_BINS
    qvals = ", ".join(f"({q})" for q in sorted(HIST_QS))
    return f"""WITH
b AS (SELECT event_type,
             CAST(least({HIST_BINS - 1},
                        greatest(0, CAST(floor((CAST(value AS DOUBLE) - {HIST_LO}) / {w}) AS INT)))
                  AS INT) AS bin
      FROM events WHERE value IS NOT NULL),
sk AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cnt
       FROM b GROUP BY event_type, bin),
cum AS (SELECT event_type, bin, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        FROM sk),
tot AS (SELECT event_type, sum(cnt) AS n FROM sk GROUP BY event_type),
q(q) AS (VALUES {qvals}),
probe AS (
  SELECT c.event_type, q.q, c.bin, c.cnt, c.cum, c.cum - c.cnt AS cumb,
         q.q * t.n AS target,
         row_number() OVER (PARTITION BY c.event_type, q.q
                            ORDER BY c.bin) AS rn
  FROM cum c JOIN tot t USING (event_type) CROSS JOIN q
  WHERE c.cum >= q.q * t.n)
SELECT event_type, q,
       round({HIST_LO} + {w} * (bin + CASE WHEN q = 0.0 THEN 0.0
                                      ELSE (target - cumb) / cnt END), 6)
       AS est
FROM probe WHERE rn = 1"""


def q_okapi_maxscore_topk(spark, sf_dir):
    """MaxScore dynamic pruning (operators/bm25.maxscore_topk) serving the
    Okapi index — term-granular essential/non-essential split against a
    seeded θ; rank-identical to exhaustive Okapi BM25, so the oracle is
    the exhaustive SQL (same contract as okapi_wand_topk)."""
    from bertopic_spark.operators.bm25 import maxscore_topk, okapi_doc_scores

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    sc = okapi_doc_scores(_docs(spark, sf_dir), k1=OKAPI_K1, b=OKAPI_B,
                          text_col="text", mode=MODE)
    t = maxscore_topk(sc, qt, k=10)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


PHRASE_PREFIX = "hash jo"


def q_phrase_prefix_match(spark, sf_dir):
    """ES match_phrase_prefix (operators/fulltext.phrase_prefix_match):
    docs where "hash" is immediately followed by a token starting with
    "jo" — (doc_id, n_matches), one scan-path HOF pass, overlapping
    occurrences counted."""
    from bertopic_spark.operators.fulltext import phrase_prefix_match

    return phrase_prefix_match(_docs(spark, sf_dir), PHRASE_PREFIX,
                               text_col="text", mode=MODE)


def _sql_phrase_prefix() -> str:
    head, pre = PHRASE_PREFIX.split()
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos FROM tk)
SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM p p0 JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
WHERE p0.term = '{head}' AND p1.term LIKE '{pre}%'
GROUP BY p0.doc_id"""


FACET_K, FACET_SHARDS, FACET_SHARD_K = 5, 4, 3


def q_facet_topn_approx(spark, sf_dir):
    """ES terms-agg distributed approximation (operators/fulltext.
    facet_topn_approx): per-shard top-3 source facets (deterministic
    pmod(doc_id, 4) shards), coordinator merge with
    doc_count_error_upper_bound — (value, doc_count, error_bound, rank)
    top-5."""
    from bertopic_spark.operators.fulltext import facet_topn_approx

    return facet_topn_approx(_docs(spark, sf_dir), "source", k=FACET_K,
                             n_shards=FACET_SHARDS, shard_k=FACET_SHARD_K)


def _sql_facet_topn() -> str:
    return f"""WITH
per AS (SELECT doc_id % {FACET_SHARDS} AS shard,
               CAST(source AS VARCHAR) AS value, count(*) AS cnt
        FROM documents GROUP BY shard, value),
top AS (SELECT * FROM (
          SELECT shard, value, cnt,
                 row_number() OVER (PARTITION BY shard
                                    ORDER BY cnt DESC, value ASC) AS rn
          FROM per) WHERE rn <= {FACET_SHARD_K}),
cut AS (SELECT shard,
               CASE WHEN count(*) >= {FACET_SHARD_K} THEN min(cnt)
                    ELSE 0 END AS cutoff
        FROM top GROUP BY shard),
allcut AS (SELECT sum(cutoff) AS all_cut FROM cut),
merged AS (SELECT t.value, CAST(sum(t.cnt) AS BIGINT) AS doc_count,
                  sum(c.cutoff) AS seen_cut
           FROM top t JOIN cut c USING (shard) GROUP BY t.value),
bounded AS (SELECT value, doc_count,
                   CAST(a.all_cut - seen_cut AS BIGINT) AS error_bound
            FROM merged CROSS JOIN allcut a),
ranked AS (SELECT value, doc_count, error_bound,
                  row_number() OVER (ORDER BY doc_count DESC, value ASC)
                  AS rank
           FROM bounded)
SELECT value, doc_count, error_bound, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {FACET_K}"""


PCTR_VALUES = (10.0, 100.0, 180.0)


def q_percentile_ranks(spark, sf_dir):
    """Inverse quantile from the histogram sketch (operators/sketch.
    histogram_percentile_rank — ES percentile_ranks agg): per event_type,
    estimated fraction of events.value ≤ {10, 100, 180} under the
    within-bin-uniform assumption; values below the first occupied bin
    report 0 instead of vanishing."""
    from bertopic_spark.operators.sketch import (histogram_percentile_rank,
                                                 histogram_sketch)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sk = histogram_sketch(ev, "value", HIST_LO, HIST_HI, HIST_BINS,
                          ["event_type"])
    out = histogram_percentile_rank(sk, PCTR_VALUES, HIST_LO, HIST_HI,
                                    HIST_BINS, ["event_type"])
    return out.select("event_type", "v", _r6(F.col("pct")).alias("pct"))


def _sql_percentile_ranks() -> str:
    w = (HIST_HI - HIST_LO) / HIST_BINS
    vvals = ", ".join(f"({v})" for v in sorted(PCTR_VALUES))
    return f"""WITH
b AS (SELECT event_type,
             CAST(least({HIST_BINS - 1},
                        greatest(0, CAST(floor((CAST(value AS DOUBLE) - {HIST_LO}) / {w}) AS INT)))
                  AS INT) AS bin
      FROM events WHERE value IS NOT NULL),
sk AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cnt
       FROM b GROUP BY event_type, bin),
cum AS (SELECT event_type, bin, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        FROM sk),
tot AS (SELECT event_type, sum(cnt) AS n FROM sk GROUP BY event_type),
v(v) AS (VALUES {vvals}),
vb AS (SELECT v, CAST(least({HIST_BINS - 1},
                            greatest(0, CAST(floor((v - {HIST_LO}) / {w}) AS INT)))
                     AS INT) AS vbin FROM v),
probe AS (
  SELECT c.event_type, vb.v, vb.vbin, c.bin, c.cnt, c.cum - c.cnt AS cumb,
         row_number() OVER (PARTITION BY c.event_type, vb.v
                            ORDER BY c.bin DESC) AS rn
  FROM cum c CROSS JOIN vb WHERE c.bin <= vb.vbin),
mass AS (
  SELECT event_type, v,
         cumb + CASE WHEN bin = vbin
                     THEN least(1.0, greatest(0.0,
                          (v - ({HIST_LO} + bin * {w})) / {w}))
                     ELSE 1.0 END * cnt AS m
  FROM probe WHERE rn = 1),
grid AS (SELECT t.event_type, t.n, v.v FROM tot t CROSS JOIN v)
SELECT g.event_type, g.v, round(coalesce(m.m, 0) / g.n, 6) AS pct
FROM grid g LEFT JOIN mass m ON m.event_type = g.event_type AND m.v = g.v"""


def q_dedup_keep_canonical(spark, sf_dir):
    """Canonical-doc selection per duplicate cluster (operators/dedup.
    dedup_canonical): LSH star edges → connected components → keep the
    highest-quality member (quality = n_chars, tie → lowest doc_id) —
    (component, keep_id, keep_quality, n_members). The keep/drop decision
    ending a near-dup pipeline, argmax riding the component agg."""
    from bertopic_spark.operators.dedup import (
        dedup_canonical, dedup_components, minhash_lsh_pairs)

    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("doc_id") < DUP_CLUSTER_N, F.lit(DUP_TEXT)).otherwise(F.col("text")),
    )
    edges = minhash_lsh_pairs(d, "text", "doc_id", num_perm=8, bands=4,
                              edge_mode="star")
    comp = dedup_components(edges)
    quality = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    return dedup_canonical(comp, quality, "n_chars").select(
        "component", "keep_id", F.col("keep_quality").cast("long")
        .alias("keep_quality"), "n_members")


def _sql_keep_canonical() -> str:
    return f"""WITH comp AS ({_sql_dedup_components()}),
jq AS (SELECT c.component, c.doc_id, CAST(d.n_chars AS BIGINT) AS q
       FROM comp c JOIN documents d USING (doc_id)),
ranked AS (SELECT component, doc_id, q,
                  row_number() OVER (PARTITION BY component
                                     ORDER BY q DESC, doc_id ASC) AS rn,
                  count(*) OVER (PARTITION BY component) AS n_members
           FROM jq)
SELECT component, doc_id AS keep_id, q AS keep_quality,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1"""


SPAN_TERMS, SPAN_SLOP = ("hash", "join", "order"), 6


def q_span_near_match(spark, sf_dir):
    """Ordered span-near (Lucene SpanNearQuery in_order=true, operators/
    fulltext.span_near_match): docs containing "hash … join … order" in
    that order within slop 6 — (doc_id, min_span), min_span the smallest
    ordered-occurrence span, via one linear in-array sweep (no UDF, no
    per-term position cross product). Postings-path parity is pytest-
    asserted."""
    from bertopic_spark.operators.fulltext import span_near_match

    return span_near_match(_docs(spark, sf_dir), SPAN_TERMS, SPAN_SLOP,
                           text_col="text", mode=MODE)


def _sql_span_near() -> str:
    # brute-force exact oracle: ordered n-way positional self-join, min span
    joins = []
    for j in range(1, len(SPAN_TERMS)):
        joins.append(f"JOIN p p{j} ON p{j}.doc_id = p{j - 1}.doc_id "
                     f"AND p{j}.pos > p{j - 1}.pos "
                     f"AND p{j}.term = '{SPAN_TERMS[j]}'")
    last = len(SPAN_TERMS) - 1
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos FROM tk),
sp AS (SELECT p0.doc_id, p{last}.pos - p0.pos + 1 AS span
       FROM p p0 {' '.join(joins)}
       WHERE p0.term = '{SPAN_TERMS[0]}'),
m AS (SELECT doc_id, CAST(min(span) AS BIGINT) AS min_span
      FROM sp GROUP BY doc_id)
SELECT doc_id, min_span FROM m
WHERE min_span <= {len(SPAN_TERMS) + SPAN_SLOP}"""


PS_PHRASE = "slow part querry"
PS_DIST, PS_NCAND, PS_K, PS_DISCOUNT = 2, 3, 5, 0.4


def q_phrase_suggest(spark, sf_dir):
    """Whole-phrase correction (ES phrase suggester): per-position
    candidates within levenshtein 1, Stupid-Backoff bigram LM scoring over
    the corpus token stream, top-k corrected phrases. Unigram/bigram stats
    are one two-phase agg each; every serving join broadcasts."""
    from bertopic_spark.operators.fulltext import phrase_suggest

    return phrase_suggest(_docs(spark, sf_dir), PS_PHRASE, PS_DIST,
                          PS_NCAND, PS_K, PS_DISCOUNT, "text", "doc_id",
                          MODE)


def _sql_phrase_suggest() -> str:
    from bertopic_spark.tokenizer import tokenize_one
    pts = tokenize_one(PS_PHRASE, MODE)
    n = len(pts)
    vals = ", ".join(f"({i}, '{t}')" for i, t in enumerate(pts))
    lat_from = " CROSS JOIN ".join(
        f"(SELECT term AS w{i}, c AS k{i} FROM cand WHERE pos = {i}) c{i}"
        for i in range(n))
    big_joins = "\n".join(
        f"  LEFT JOIN big b{i} ON b{i}.w1 = lat.w{i-1} AND b{i}.w2 = lat.w{i}"
        for i in range(1, n))
    score = "ln(lat.k0 / tot.t)" + "".join(
        f" + coalesce(ln(b{i}.cb / lat.k{i-1}), "
        f"ln({PS_DISCOUNT} * lat.k{i} / tot.t))" for i in range(1, n))
    sugg = " || ' ' || ".join(f"lat.w{i}" for i in range(n))
    return f"""WITH
tk AS (SELECT {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
uni AS (SELECT unnest(ts) AS term FROM tk),
unic AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY term),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM unic),
bgr AS (SELECT unnest(list_transform(range(1, len(ts)),
                                     i -> [ts[i], ts[i + 1]])) AS bg
        FROM tk),
big AS (SELECT bg[1] AS w1, bg[2] AS w2, CAST(count(*) AS BIGINT) AS cb
        FROM bgr GROUP BY 1, 2),
qs(pos, q_term) AS (VALUES {vals}),
cand0 AS (
  SELECT pos, term, c, levenshtein(term, q_term) AS dist
  FROM qs CROSS JOIN unic
  WHERE abs(length(term) - length(q_term)) <= {PS_DIST}
    AND levenshtein(term, q_term) <= {PS_DIST}),
cand AS (
  SELECT pos, term, c FROM (
    SELECT *, row_number() OVER (PARTITION BY pos
        ORDER BY dist ASC, c DESC, term ASC) AS rk FROM cand0)
  WHERE rk <= {PS_NCAND}),
lat AS (SELECT * FROM {lat_from}),
scored AS (
  SELECT {sugg} AS suggestion, round({score}, 6) AS logp
  FROM lat CROSS JOIN tot
{big_joins}),
ranked AS (
  SELECT suggestion, logp,
         row_number() OVER (ORDER BY logp DESC, suggestion ASC) AS rank
  FROM scored)
SELECT suggestion, logp, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {PS_K}"""


TV_IDS = (1, 2, 3, 5, 8)


def q_term_vectors(spark, sf_dir):
    """ES _termvectors with term_statistics: per requested doc the (term,
    tf, positions) vector plus corpus-wide df/ttf — the stats half is
    semi-joined to the requested docs' term set before its agg."""
    from bertopic_spark.operators.fulltext import term_vectors

    return term_vectors(_docs(spark, sf_dir), list(TV_IDS), "text",
                        "doc_id", MODE)


def _sql_term_vectors() -> str:
    ids = ", ".join(str(i) for i in TV_IDS)
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
sel AS (SELECT doc_id, ts FROM tk WHERE doc_id IN ({ids})),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos
      FROM sel),
dv AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
              string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos)
                AS positions
       FROM p GROUP BY doc_id, term),
ap AS (SELECT doc_id, unnest(ts) AS term FROM tk),
st AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
              CAST(count(*) AS BIGINT) AS ttf
       FROM ap WHERE term IN (SELECT term FROM dv) GROUP BY term)
SELECT dv.doc_id, dv.term, tf, positions, df, ttf
FROM dv JOIN st USING (term)"""


CA_AFTER = ("click", datetime(2024, 1, 25))
CA_SIZE = 10


def q_composite_agg(spark, sf_dir):
    """ES composite aggregation, page 2: buckets of (event_type, day)
    after the cursor — the keyset predicate is applied BELOW the agg on
    the raw scan, so deep pages only aggregate remaining data."""
    from bertopic_spark.operators.rollup import composite_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return composite_agg(
        ev,
        [("event_type", F.col("event_type")),
         ("day", F.date_trunc("day", F.col("ts")))],
        [("n_events", F.count(F.lit(1)).cast("long")),
         ("sum_value", _r6(F.sum("value")))],
        size=CA_SIZE, after=CA_AFTER)


SQL_COMPOSITE_AGG = f"""WITH keyed AS (
  SELECT event_type, date_trunc('day', ts) AS day, value
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
    AND (event_type, date_trunc('day', ts))
        > ('click', TIMESTAMP '2024-01-25 00:00:00')),
agg AS (
  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_events,
         round(sum(value), 6) AS sum_value
  FROM keyed GROUP BY event_type, day)
SELECT * FROM agg ORDER BY event_type, day LIMIT {CA_SIZE}"""


def q_pipeline_aggs(spark, sf_dir):
    """ES pipeline aggregations over the hourly date_histogram: running
    sum, derivative and trailing-3 moving average per event_type series —
    all three metrics ride ONE window exchange over the bucket relation
    (never the raw events)."""
    from bertopic_spark.operators.rollup import pipeline_aggs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = (ev.groupBy("event_type",
                    F.date_trunc("hour", F.col("ts")).alias("h"))
         .agg(F.count(F.lit(1)).cast("long").alias("n")))
    return pipeline_aggs(b, "h", "n", keys=("event_type",), window=3)


SQL_PIPELINE_AGGS = """WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2)
SELECT event_type, h, n,
  CAST(sum(n) OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS cum_n,
  n - lag(n) OVER (PARTITION BY event_type ORDER BY h) AS deriv_n,
  round(avg(n) OVER (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg_n
FROM b"""


RANGE_BUCKETS = (("cheap", None, 25.0), ("mid", 25.0, 100.0),
                 ("big", 100.0, None), ("band", 10.0, 60.0),
                 ("none_above", 1000.0, None))


def q_range_agg(spark, sf_dir):
    """ES range aggregation over event values: explicit half-open buckets,
    overlapping ranges double-count by design, empty ranges return 0 —
    one scan regardless of bucket count."""
    from bertopic_spark.operators.rollup import range_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return range_agg(ev, "value", RANGE_BUCKETS)


def _sql_range_agg() -> str:
    vals = ", ".join(
        "('{}', {}, {})".format(
            k, "NULL" if lo is None else lo, "NULL" if hi is None else hi)
        for k, lo, hi in RANGE_BUCKETS)
    return f"""WITH r(range_key, from_v, to_v) AS (VALUES {vals}),
hits AS (
  SELECT r.range_key, e.value
  FROM r JOIN events e
    ON (r.from_v IS NULL OR e.value >= r.from_v)
   AND (r.to_v IS NULL OR e.value < r.to_v)
  WHERE e.value IS NOT NULL),
agg AS (SELECT range_key, CAST(count(*) AS BIGINT) AS n_docs,
               round(sum(value), 6) AS sum_value
        FROM hits GROUP BY 1)
SELECT r.range_key, CAST(r.from_v AS DOUBLE) AS from_v,
       CAST(r.to_v AS DOUBLE) AS to_v,
       coalesce(n_docs, 0) AS n_docs,
       coalesce(sum_value, 0.0) AS sum_value
FROM r LEFT JOIN agg USING (range_key)"""


MS_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_matrix_stats(spark, sf_dir):
    """ES matrix_stats: the pairwise Pearson correlation matrix over
    lineitem's numeric measures — every pair's moments ride ONE two-phase
    agg pass (mergeable running moments, exactly ES's per-shard merge)."""
    from bertopic_spark.operators.rollup import matrix_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return matrix_stats(li, list(MS_COLS))


def _sql_matrix_stats() -> str:
    cs = list(MS_COLS)
    parts = []
    for i, a in enumerate(cs):
        for b in cs[i:]:
            parts.append(
                f"SELECT '{a}' AS field_x, '{b}' AS field_y, "
                f"CAST(count(*) FILTER (WHERE {a} IS NOT NULL AND {b} IS "
                f"NOT NULL) AS BIGINT) AS n, "
                f"round(corr({a}, {b}), 6) AS corr FROM lineitem")
    return " UNION ALL ".join(parts)


def q_extended_stats(spark, sf_dir):
    """ES extended_stats agg (operators/rollup.extended_stats): per
    event_type moment stats from shard-mergeable sums, one two-phase
    agg."""
    from bertopic_spark.operators.rollup import extended_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return extended_stats(ev, "value", ["event_type"])


SQL_EXTENDED_STATS = """SELECT event_type,
  CAST(count(value) AS BIGINT) AS n,
  round(min(value), 6) AS min_v, round(max(value), 6) AS max_v,
  round(sum(value), 6) AS sum_v, round(sum(value) / count(value), 6) AS avg_v,
  round(sum(value * value), 6) AS sum_sq,
  round(sum(value * value) / count(value)
        - (sum(value) / count(value)) * (sum(value) / count(value)), 6)
        AS variance,
  round(sqrt(sum(value * value) / count(value)
        - (sum(value) / count(value)) * (sum(value) / count(value))), 6)
        AS std_dev
FROM events GROUP BY event_type"""


SN_INC, SN_EXC, SN_PRE, SN_POST = "join", "hash", 2, 2


def q_span_not_match(spark, sf_dir):
    """Lucene SpanNot / ES span_not (operators/fulltext.span_not_match):
    '{inc}' occurrences with no '{exc}' within {pre} tokens before or
    {post} after; one scan, nested array HOFs, no positional self-join."""
    from bertopic_spark.operators.fulltext import span_not_match

    return span_not_match(_docs(spark, sf_dir), SN_INC, SN_EXC,
                          SN_PRE, SN_POST, "text", "doc_id", MODE)


def _sql_span_not() -> str:
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos FROM tk),
a AS (SELECT doc_id, pos FROM p WHERE term = '{SN_INC}'),
b AS (SELECT doc_id, pos FROM p WHERE term = '{SN_EXC}'),
kept AS (SELECT a.doc_id, a.pos FROM a
         WHERE NOT EXISTS (SELECT 1 FROM b
                           WHERE b.doc_id = a.doc_id
                           AND b.pos BETWEEN a.pos - {SN_PRE}
                                         AND a.pos + {SN_POST}))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id"""


def q_t_test(spark, sf_dir):
    """ES t_test agg (Welch, operators/rollup.t_test_agg): per source,
    t-statistic of n_chars between lang='en' and the rest — both sides'
    moments from ONE conditional two-phase agg, no self-join."""
    from bertopic_spark.operators.rollup import t_test_agg

    docs = _docs(spark, sf_dir).withColumn("is_en", F.col("lang") == "en")
    return t_test_agg(docs, "n_chars", "is_en", ["source"])


SQL_T_TEST = """WITH s AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS v, (lang = 'en') AS a
  FROM documents),
m AS (
  SELECT source,
    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS DOUBLE) AS na,
    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
    sum(CASE WHEN a THEN v ELSE 0 END) AS sa,
    sum(CASE WHEN NOT a THEN v ELSE 0 END) AS sb,
    sum(CASE WHEN a THEN v * v ELSE 0 END) AS qa,
    sum(CASE WHEN NOT a THEN v * v ELSE 0 END) AS qb
  FROM s GROUP BY source)
SELECT source, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round(sa / na, 6) AS mean_a, round(sb / nb, 6) AS mean_b,
  round((qa - sa * sa / na) / (na - 1), 6) AS var_a,
  round((qb - sb * sb / nb) / (nb - 1), 6) AS var_b,
  round(CASE WHEN na >= 2 AND nb >= 2 THEN
    (sa / na - sb / nb)
    / sqrt((qa - sa * sa / na) / (na - 1) / na
           + (qb - sb * sb / nb) / (nb - 1) / nb) END, 6) AS t_stat
FROM m"""


def q_mad(spark, sf_dir):
    """ES median_absolute_deviation, exact (operators/rollup.
    median_absolute_deviation): two dependent percentile aggs with the
    per-group median broadcast back; no window over the fact table."""
    from bertopic_spark.operators.rollup import median_absolute_deviation

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return median_absolute_deviation(ev, "value", ["event_type"])


SQL_MAD = """WITH med AS (
  SELECT event_type, quantile_cont(CAST(value AS DOUBLE), 0.5) AS m,
         CAST(count(value) AS BIGINT) AS n
  FROM events GROUP BY event_type)
SELECT e.event_type, any_value(med.n) AS n, round(any_value(med.m), 6) AS median,
       round(quantile_cont(abs(CAST(e.value AS DOUBLE) - med.m), 0.5), 6) AS mad
FROM events e JOIN med USING (event_type)
GROUP BY e.event_type"""


def q_string_stats(spark, sf_dir):
    """ES string_stats with show_distribution entropy (operators/rollup.
    string_stats): per-lang length stats + Shannon entropy of the char
    distribution; char explode collapses map-side to |buckets|x|charset|
    shuffle keys."""
    from bertopic_spark.operators.rollup import string_stats

    return string_stats(_docs(spark, sf_dir), "text", ["lang"])


SQL_STRING_STATS = """WITH st AS (
  SELECT lang, CAST(count(text) AS BIGINT) AS n,
         CAST(min(length(text)) AS BIGINT) AS min_length,
         CAST(max(length(text)) AS BIGINT) AS max_length,
         round(avg(length(text)), 6) AS avg_length
  FROM documents GROUP BY lang),
ex AS (SELECT lang, unnest(range(1, length(text) + 1)) AS i, text
       FROM documents WHERE length(text) > 0),
cc AS (SELECT lang, substr(text, i, 1) AS ch, CAST(count(*) AS DOUBLE) AS c
       FROM ex GROUP BY lang, substr(text, i, 1)),
pp AS (SELECT lang, c / sum(c) OVER (PARTITION BY lang) AS p FROM cc),
en AS (SELECT lang, round(sum(-p * log2(p)), 6) AS entropy
       FROM pp GROUP BY lang)
SELECT st.lang, st.n, st.min_length, st.max_length, st.avg_length, en.entropy
FROM st JOIN en USING (lang)"""


def q_explain_score(spark, sf_dir):
    """ES _explain / Lucene Explanation (operators/bm25.explain_score):
    per-term BM25 breakdown of each query's top-5 hits; term rows sum to
    the hit's doc_score (the auditable rank-identity form). Breakdown
    re-probes scores with hits AND query terms broadcast."""
    from bertopic_spark.operators.bm25 import explain_score
    from bertopic_spark.operators.ctfidf import ctfidf, term_stats
    from bertopic_spark.operators.postings import doc_term_counts

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    x = doc_term_counts(_docs(spark, sf_dir), "text", ["doc_id"], MODE,
                        with_len=True).withColumnRenamed(
        "doc_len", "class_len").persist()
    stats = term_stats(x, ["doc_id"], bm25_weighting=True)
    scores = ctfidf(x, ["doc_id"], bm25_weighting=True, stats=stats)
    out = explain_score(scores, stats, qt, k=5)
    return out.select(
        "query_id", "doc_id", "rn", _r6(F.col("doc_score")).alias("doc_score"),
        "term", "tf", "df", _r6(F.col("idf")).alias("idf"),
        _r6(F.col("term_score")).alias("term_score"),
        _r6(F.col("contribution")).alias("contribution"))


def _sql_explain_score() -> str:
    return f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS doc_score
  FROM q JOIN scores s USING (term) GROUP BY q.query_id, s.doc_id),
ranked AS (
  SELECT query_id, doc_id, doc_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY doc_score DESC, doc_id ASC) AS rn
  FROM hits),
top AS (SELECT * FROM ranked WHERE rn <= 5)
SELECT CAST(t.query_id AS BIGINT) AS query_id, t.doc_id,
       CAST(t.rn AS BIGINT) AS rn, round(t.doc_score, 6) AS doc_score,
       s.term, x.tf, i.df, round(i.idf, 6) AS idf,
       round(s.score, 6) AS term_score,
       round(s.score / nullif(t.doc_score, 0), 6) AS contribution
FROM top t
JOIN q ON q.query_id = t.query_id
JOIN scores s ON s.doc_id = t.doc_id AND s.term = q.term
JOIN xdoc x ON x.doc_id = s.doc_id AND x.term = s.term
JOIN idf i ON i.term = s.term"""


WSAMPLE_N, WSAMPLE_SEED = 200, 42


def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement
    (operators/distribution.weighted_sample_wor): proportional-to-weight
    doc sampling via key = ln(u)/w top-n; compiles to
    TakeOrderedAndProject — per-partition top-n, no full sort."""
    from bertopic_spark.operators.distribution import weighted_sample_wor

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_sample_wor(docs, "n_chars", WSAMPLE_N,
                               seed=WSAMPLE_SEED).select(
        "doc_id", "lang", "source", "n_chars")


def _sql_weighted_sample() -> str:
    return f"""SELECT doc_id, lang, source, n_chars FROM documents
WHERE n_chars > 0
ORDER BY ln((CAST(concat('0x', substr(md5('{WSAMPLE_SEED}_' || CAST(doc_id AS VARCHAR)),
                          1, 15)) AS BIGINT) + 1) / CAST({16 ** 15 + 1} AS DOUBLE))
         / CAST(n_chars AS DOUBLE) DESC, doc_id
LIMIT {WSAMPLE_N}"""


def q_minhash_incremental(spark, sf_dir):
    """O(delta) incremental near-dup (operators/dedup.
    minhash_incremental_pairs): docs with doc_id % 3 == 0 arrive as the
    new batch against a persisted LSH-bucket generation of the rest;
    output = exactly the full run's pairs that touch the new batch,
    without recomparing old×old."""
    from bertopic_spark.operators.dedup import (
        minhash_band_keys, minhash_incremental_pairs, minhash_signatures)

    d = _docs(spark, sf_dir)
    old = d.filter(F.col("doc_id") % 3 != 0)
    new = d.filter(F.col("doc_id") % 3 == 0)
    ob = minhash_band_keys(
        minhash_signatures(old, "text", "doc_id", 8, 42, 2, MODE),
        "doc_id", 8, 4)
    return minhash_incremental_pairs(ob, new, "text", "doc_id",
                                     num_perm=8, bands=4)


def _sql_minhash_incremental() -> str:
    base = _sql_minhash(8)
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, concat(CAST(sig_{2*b} AS VARCHAR), '_', "
        f"CAST(sig_{2*b+1} AS VARCHAR)) AS key FROM sigs"
        for b in range(4)
    )
    return f"""WITH sigs AS ({base}),
bands AS ({bands})
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
WHERE a.doc_id < b.doc_id AND (a.doc_id % 3 = 0 OR b.doc_id % 3 = 0)
GROUP BY a.doc_id, b.doc_id"""


def q_vocab_kl_drift(spark, sf_dir):
    """Unigram-LM drift between two corpus snapshots
    (operators/textstats.vocab_kl_drift): top-100 terms by smoothed
    KL(P||Q) contribution; snapshots = even/odd doc_id halves of the
    documents table (deterministic, oracle-reproducible)."""
    from bertopic_spark.operators.textstats import vocab_kl_drift

    d = _docs(spark, sf_dir)
    out = vocab_kl_drift(d.filter(F.col("doc_id") % 2 == 0),
                         d.filter(F.col("doc_id") % 2 == 1),
                         text_col="text", mode=MODE, k=100)
    return out.select("term", "cnt_a", "cnt_b",
                      _r6(F.col("contribution")).alias("contribution"), "rn")


def _sql_vocab_kl_drift() -> str:
    toks = duckdb_tokens_sql("text", MODE)
    return f"""WITH
ca AS (SELECT term, count(*) AS cnt_a FROM (
  SELECT unnest({toks}) AS term FROM documents WHERE doc_id % 2 = 0)
  GROUP BY term),
cb AS (SELECT term, count(*) AS cnt_b FROM (
  SELECT unnest({toks}) AS term FROM documents WHERE doc_id % 2 = 1)
  GROUP BY term),
u AS (SELECT coalesce(ca.term, cb.term) AS term,
             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
      FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
tot AS (SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b, count(*) AS v FROM u),
s AS (SELECT term, cnt_a, cnt_b,
             ((cnt_a + 1.0) / (n_a + v)) *
             ln(((cnt_a + 1.0) / (n_a + v)) / ((cnt_b + 1.0) / (n_b + v)))
             AS contribution
      FROM u CROSS JOIN tot),
r AS (SELECT term, cnt_a, cnt_b, contribution,
             row_number() OVER (ORDER BY contribution DESC, term ASC) AS rn
      FROM s)
SELECT term, CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
       round(contribution, 6) AS contribution, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= 100"""


ADJ_FILTERS_SQL = {
    "en": "lang = 'en'",
    "long": "n_chars >= 300",
    "src1x": "source LIKE 'src1%'",
    "data": "text LIKE '%data%'",
}


def q_adjacency_matrix(spark, sf_dir):
    """ES adjacency_matrix agg (operators/rollup.adjacency_matrix): counts
    for every named filter and every pairwise intersection, one corpus
    scan."""
    from bertopic_spark.operators.rollup import adjacency_matrix

    d = _docs(spark, sf_dir)
    return adjacency_matrix(d, {
        "en": F.col("lang") == "en",
        "long": F.col("n_chars") >= 300,
        "src1x": F.col("source").startswith("src1"),
        "data": F.col("text").contains("data"),
    })


def _sql_adjacency() -> str:
    ns = list(ADJ_FILTERS_SQL)
    parts = []
    for i, a in enumerate(ns):
        for b in ns[i:]:
            x, y = sorted((a, b))
            parts.append(
                f"SELECT '{x}' AS key_x, '{y}' AS key_y, "
                f"CAST(count(*) AS BIGINT) AS doc_count FROM documents "
                f"WHERE ({ADJ_FILTERS_SQL[a]}) AND ({ADJ_FILTERS_SQL[b]}) "
                f"HAVING count(*) > 0")
    return " UNION ALL ".join(parts)


def q_rank_eval(spark, sf_dir):
    """ES _rank_eval analog (operators/bm25.rank_eval): per-query
    precision@10 / recall@10 / MRR / DCG / NDCG of the BM25 run against a
    deterministic graded judgment set (grade = number of distinct query
    terms a doc contains, judged relevant at >= 2 — derived from the
    corpus itself, so the oracle reproduces it exactly)."""
    from bertopic_spark.operators.bm25 import bm25_topk_adhoc, rank_eval

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    hits = bm25_topk_adhoc(_docs(spark, sf_dir), qt, k=10,
                           text_col="text", mode=MODE)
    judg = (_doc_x(spark, sf_dir).join(F.broadcast(qt), "term")
            .groupBy("query_id", "doc_id")
            .agg(F.count_distinct("term").alias("grade"))
            .filter(F.col("grade") >= 2)
            .withColumn("grade", F.col("grade").cast("double")))
    out = rank_eval(hits, judg, k=10)
    return out.select(
        "query_id", _r6(F.col("p_at_k")).alias("p_at_k"),
        _r6(F.col("recall_at_k")).alias("recall_at_k"),
        _r6(F.col("mrr")).alias("mrr"),
        _r6(F.col("dcg_at_k")).alias("dcg_at_k"),
        _r6(F.col("ndcg_at_k")).alias("ndcg_at_k"))


SQL_RANK_EVAL = f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM q JOIN scores s USING (term) GROUP BY q.query_id, s.doc_id),
win AS (
  SELECT query_id, doc_id, rnk FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS rnk
    FROM hits) WHERE rnk <= 10),
judg AS (
  SELECT q.query_id, x.doc_id, CAST(count(DISTINCT q.term) AS DOUBLE) AS grade
  FROM q JOIN xdoc x USING (term)
  GROUP BY q.query_id, x.doc_id HAVING count(DISTINCT q.term) >= 2),
graded AS (
  SELECT w.query_id, w.rnk, coalesce(j.grade, 0.0) AS grade
  FROM win w LEFT JOIN judg j
    ON w.query_id = j.query_id AND w.doc_id = j.doc_id),
per AS (
  SELECT query_id, count(*) AS n_ret,
         sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS n_rel_ret,
         min(CASE WHEN grade > 0 THEN rnk END) AS first_rel,
         sum((pow(2.0, grade) - 1.0) / log2(rnk + 1.0)) AS dcg
  FROM graded GROUP BY query_id),
irk AS (
  SELECT query_id, grade,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY grade DESC, doc_id ASC) AS irank
  FROM judg WHERE grade > 0),
ideal AS (
  SELECT query_id, sum((pow(2.0, grade) - 1.0) / log2(irank + 1.0)) AS idcg
  FROM irk WHERE irank <= 10 GROUP BY query_id),
nrel AS (SELECT query_id, count(*) AS n_rel FROM judg WHERE grade > 0
         GROUP BY query_id)
SELECT CAST(p.query_id AS BIGINT) AS query_id,
       round(n_rel_ret * 1.0 / n_ret, 6) AS p_at_k,
       round(CASE WHEN coalesce(n_rel, 0) > 0
                  THEN n_rel_ret * 1.0 / n_rel ELSE 0.0 END, 6) AS recall_at_k,
       round(coalesce(1.0 / first_rel, 0.0), 6) AS mrr,
       round(dcg, 6) AS dcg_at_k,
       round(CASE WHEN coalesce(idcg, 0.0) > 0
                  THEN dcg / idcg ELSE 0.0 END, 6) AS ndcg_at_k
FROM per p LEFT JOIN ideal i ON p.query_id = i.query_id
           LEFT JOIN nrel n ON p.query_id = n.query_id"""


def q_ranker_ttest(spark, sf_dir):
    """Paired t-test between the Okapi and Dirichlet-LM rankers on
    per-query nDCG@10 (operators/evaluation.paired_ttest — the standard
    IR significance test): per-query metrics from rank_eval over the
    shared grade≥2 judgment set, deltas A−B, one-row n / mean / sd / t /
    df. Per-query nDCG is 6dp-rounded on BOTH sides before the test so
    the statistic replays exactly."""
    from bertopic_spark.operators.bm25 import (lm_topk, okapi_bm25_topk,
                                               rank_eval)
    from bertopic_spark.operators.evaluation import paired_ttest

    d = _docs(spark, sf_dir)
    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    judg = (_doc_x(spark, sf_dir).join(F.broadcast(qt), "term")
            .groupBy("query_id", "doc_id")
            .agg(F.count_distinct("term").alias("grade"))
            .filter(F.col("grade") >= 2)
            .withColumn("grade", F.col("grade").cast("double")))
    ra = okapi_bm25_topk(d, qt, k=10, k1=OKAPI_K1, b=OKAPI_B,
                         text_col="text", mode=MODE)
    rb = lm_topk(d, qt, k=10, mu=LM_MU, text_col="text", mode=MODE)
    ea = rank_eval(ra, judg, k=10) \
        .select("query_id", _r6(F.col("ndcg_at_k")).alias("ndcg_at_k"))
    eb = rank_eval(rb, judg, k=10) \
        .select("query_id", _r6(F.col("ndcg_at_k")).alias("ndcg_at_k"))
    out = paired_ttest(ea, eb, "ndcg_at_k")
    return out.select("n", _r6(F.col("mean_delta")).alias("mean_delta"),
                      _r6(F.col("sd_delta")).alias("sd_delta"),
                      _r6(F.col("t_stat")).alias("t_stat"), "df")


def _sql_ranker_ttest() -> str:
    okapi_core = SQL_OKAPI_BM25.split("WITH", 1)[1].rsplit("SELECT", 1)[0]

    def ndcg(run_win: str, tag: str) -> str:
        return f"""graded_{tag} AS (
  SELECT w.query_id, w.rnk, coalesce(j.grade, 0.0) AS grade
  FROM {run_win} w LEFT JOIN judg j
    ON w.query_id = j.query_id AND w.doc_id = j.doc_id),
per_{tag} AS (
  SELECT query_id,
         sum((pow(2.0, grade) - 1.0) / log2(rnk + 1.0)) AS dcg
  FROM graded_{tag} GROUP BY query_id),
nd_{tag} AS (
  SELECT p.query_id,
         round(CASE WHEN coalesce(i.idcg, 0.0) > 0
               THEN p.dcg / i.idcg ELSE 0.0 END, 6) AS ndcg
  FROM per_{tag} p LEFT JOIN ideal i ON p.query_id = i.query_id)"""

    return f"""WITH {okapi_core.rstrip().rstrip(',')},
win_a AS (SELECT query_id, doc_id, rn AS rnk FROM ranked WHERE rn <= 10),
lm_cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM xdoc GROUP BY term),
lm_tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM xdoc),
lm_qv AS (SELECT q.query_id, q.term FROM q JOIN lm_cf USING (term)),
lm_nq AS (SELECT query_id, count(*) AS n_q FROM lm_qv GROUP BY query_id),
lm_hits AS (
  SELECT qv.query_id, x.doc_id,
         sum(ln(1.0 + x.tf * tot.total / ({LM_MU} * cf.cf))) AS ql
  FROM lm_qv qv JOIN xdoc x USING (term) JOIN lm_cf cf USING (term)
  CROSS JOIN lm_tot tot
  GROUP BY qv.query_id, x.doc_id),
lm_scored AS (
  SELECT h.query_id, h.doc_id,
         h.ql + nq.n_q * ln({LM_MU} / (dl.dl + {LM_MU})) AS score
  FROM lm_hits h JOIN dl USING (doc_id) JOIN lm_nq nq USING (query_id)),
win_b AS (
  SELECT query_id, doc_id, rnk FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS rnk
    FROM lm_scored) WHERE rnk <= 10),
judg AS (
  SELECT q.query_id, x.doc_id,
         CAST(count(DISTINCT q.term) AS DOUBLE) AS grade
  FROM q JOIN xdoc x USING (term)
  GROUP BY q.query_id, x.doc_id HAVING count(DISTINCT q.term) >= 2),
irk AS (
  SELECT query_id, grade,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY grade DESC, doc_id ASC) AS irank
  FROM judg WHERE grade > 0),
ideal AS (
  SELECT query_id, sum((pow(2.0, grade) - 1.0) / log2(irank + 1.0)) AS idcg
  FROM irk WHERE irank <= 10 GROUP BY query_id),
{ndcg('win_a', 'a')},
{ndcg('win_b', 'b')},
deltas AS (
  SELECT a.query_id, a.ndcg - b.ndcg AS delta
  FROM nd_a a JOIN nd_b b USING (query_id)),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n, avg(delta) AS mean_delta,
         stddev_samp(delta) AS sd_delta
  FROM deltas)
SELECT n, round(mean_delta, 6) AS mean_delta,
       round(sd_delta, 6) AS sd_delta,
       round(CASE WHEN n >= 2 AND sd_delta > 0
             THEN mean_delta / (sd_delta / sqrt(n)) END, 6) AS t_stat,
       CAST(n - 1 AS BIGINT) AS df
FROM agg"""


def q_rare_terms(spark, sf_dir):
    """ES rare_terms agg (operators/rollup.rare_terms_agg): the long-tail
    of token 3-shingles appearing in <= 2 documents — exact (one distinct
    + one count, both two-phase aggs) where ES approximates with a
    CuckooFilter. Shingles (not unigrams) because the fixture's unigram
    vocabulary is closed — the 3-gram space is where a real tail lives
    (non-emptiness asserted in pytest at every fixture SF)."""
    from bertopic_spark.operators.dedup import shingles
    from bertopic_spark.operators.rollup import rare_terms_agg

    sh = shingles(_docs(spark, sf_dir), "text", "doc_id", n=3, mode=MODE)
    return rare_terms_agg(sh, "shingle", "doc_id", max_doc_count=2)


SQL_RARE_TERMS = f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
       FROM tk, unnest(generate_series(1, greatest(len(ts)-2, 0))) AS u(i))
SELECT shingle, CAST(count(*) AS BIGINT) AS doc_count
FROM sh GROUP BY shingle HAVING count(*) <= 2"""


def q_boxplot(spark, sf_dir):
    """ES boxplot agg, exact quartiles + IQR whisker fences
    (operators/rollup.boxplot_agg): one two-phase agg per event_type."""
    from bertopic_spark.operators.rollup import boxplot_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return boxplot_agg(ev, "value", ["event_type"])


SQL_BOXPLOT = """WITH a AS (
  SELECT event_type, CAST(count(v) AS BIGINT) AS n,
         round(min(v), 6) AS min,
         round(quantile_cont(v, 0.25), 6) AS q1,
         round(quantile_cont(v, 0.5), 6) AS q2,
         round(quantile_cont(v, 0.75), 6) AS q3,
         round(max(v), 6) AS max
  FROM (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events)
  GROUP BY event_type)
SELECT event_type, n, min, q1, q2, q3, max,
  round(greatest(min, q1 - 1.5 * (q3 - q1)), 6) AS lower_fence,
  round(least(max, q3 + 1.5 * (q3 - q1)), 6) AS upper_fence
FROM a"""


def q_top_hits(spark, sf_dir):
    """ES top_hits sub-agg (operators/rollup.top_hits_agg): top-3 whole
    rows per event_type by value; WindowGroupLimit keeps 3 rows per
    bucket per partition before the exchange."""
    from bertopic_spark.operators.rollup import top_hits_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return top_hits_agg(ev, ["event_type"], "value", n=3,
                        id_col="event_id").select(
        "event_type", "event_id", "value", "hit_rank")


SQL_TOP_HITS = """SELECT event_type, event_id, value, hit_rank FROM (
  SELECT event_type, event_id, value,
         CAST(row_number() OVER (PARTITION BY event_type
              ORDER BY value DESC, event_id) AS INT) AS hit_rank
  FROM events) WHERE hit_rank <= 3"""


def q_multi_terms(spark, sf_dir):
    """ES multi_terms agg (operators/rollup.multi_terms_agg): top-8
    (lang, source) composite buckets by doc count, ES tie-break (count
    desc, then key tuple asc)."""
    from bertopic_spark.operators.rollup import multi_terms_agg

    return multi_terms_agg(_docs(spark, sf_dir), ["lang", "source"], size=8)


SQL_MULTI_TERMS = """SELECT * FROM (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS doc_count,
         CAST(row_number() OVER (ORDER BY count(*) DESC, lang, source)
              AS INT) AS bucket_rank
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY lang, source) WHERE bucket_rank <= 8"""


def q_serial_diff_norm(spark, sf_dir):
    """ES serial_diff (lag=2) + normalize (rescale_0_1) pipeline aggs
    (operators/rollup.serial_diff_normalize) over the hourly
    date_histogram buckets; diff and rescale share one partitioning."""
    from bertopic_spark.operators.rollup import serial_diff_normalize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = (ev.groupBy("event_type",
                    F.date_trunc("hour", F.col("ts")).alias("h"))
         .agg(F.count(F.lit(1)).cast("long").alias("n")))
    return serial_diff_normalize(b, "h", "n", keys=("event_type",), lag=2)


SQL_SERIAL_DIFF_NORM = """WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2)
SELECT event_type, h, n,
  CAST(n AS DOUBLE) - lag(CAST(n AS DOUBLE), 2)
      OVER (PARTITION BY event_type ORDER BY h) AS sdiff_n,
  round(CASE WHEN max(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type)
             = min(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type)
        THEN 0.0
        ELSE (CAST(n AS DOUBLE)
              - min(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type))
             / (max(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type)
                - min(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type))
        END, 6) AS norm_n
FROM b"""


def q_diversified_sample(spark, sf_dir):
    """ES diversified_sampler agg (operators/distribution.
    diversified_sampler): md5-ordered sample of 20 docs with at most 5
    per lang — deterministic where ES is shard-order dependent."""
    from bertopic_spark.operators.distribution import diversified_sampler

    d = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    return diversified_sampler(d, "lang", n=20, max_docs_per_value=5,
                               id_col="doc_id", seed=42)


SQL_DIVERSIFIED_SAMPLE = """WITH u AS (
  SELECT doc_id, lang, source, n_chars,
         md5('42_' || CAST(doc_id AS VARCHAR)) AS _u
  FROM documents),
capped AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY _u, doc_id) AS _r
  FROM u)
SELECT doc_id, lang, source, n_chars FROM capped
WHERE _r <= 5 ORDER BY _u, doc_id LIMIT 20"""


# -- topic-quality evaluation (u_mass / NPMI coherence, diversity) ----------

def _eval_topk(spark, sf_dir):
    return top_k_terms(ctfidf(_cls_x(spark, sf_dir), ["lang"]), ["lang"], 10)


def q_umass_coherence(spark, sf_dir):
    """u_mass topic coherence per topic (Mimno 2011; gensim c_uMass) over
    the fitted top-10 words — doc-frequency joins, no driver loop."""
    from bertopic_spark.operators.evaluation import umass_coherence

    return umass_coherence(_eval_topk(spark, sf_dir), _doc_x(spark, sf_dir),
                           ["lang"])


def q_npmi_coherence(spark, sf_dir):
    """NPMI topic coherence per topic (Röder 2015 c_npmi, Bouma 2009)."""
    from bertopic_spark.operators.evaluation import npmi_coherence

    return npmi_coherence(_eval_topk(spark, sf_dir), _doc_x(spark, sf_dir),
                          ["lang"])


def q_topic_diversity(spark, sf_dir):
    """Dieng 2020 topic diversity: unique fraction of pooled top words."""
    from bertopic_spark.operators.evaluation import topic_diversity

    return topic_diversity(_eval_topk(spark, sf_dir), ["lang"])


_EVAL_TOPK_SQL = f"""{_TOKS},
{_XCLS},
{_scores_sql('xcls', 'lang', False, False)},
ranked AS (
  SELECT lang, term, row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS rn
  FROM scores),
topk AS (SELECT lang, rn AS rank, term FROM ranked WHERE rn <= 10),
vocab AS (SELECT DISTINCT term FROM topk),
inc AS (SELECT DISTINCT t.doc_id, t.term FROM toks t JOIN vocab v USING (term)),
dfreq AS (SELECT term, count(*) AS d FROM inc GROUP BY term),
co AS (SELECT a.term AS term_a, b.term AS term_b, count(*) AS d_ab
       FROM inc a JOIN inc b ON a.doc_id = b.doc_id AND a.term < b.term
       GROUP BY a.term, b.term)"""

SQL_UMASS = f"""WITH {_EVAL_TOPK_SQL},
pairs AS (
  SELECT p.lang, p.term AS wi, q.term AS wj
  FROM topk p JOIN topk q ON p.lang = q.lang AND p.rank > q.rank),
scoredp AS (
  SELECT pr.lang, ln((coalesce(c.d_ab, 0) + 1.0) / dj.d) AS s
  FROM pairs pr
  JOIN dfreq dj ON dj.term = pr.wj
  LEFT JOIN co c ON c.term_a = least(pr.wi, pr.wj)
              AND c.term_b = greatest(pr.wi, pr.wj))
SELECT lang, round(avg(s), 6) AS coherence FROM scoredp GROUP BY lang"""

SQL_NPMI = f"""WITH {_EVAL_TOPK_SQL},
n AS (SELECT count(DISTINCT doc_id) AS nd FROM toks),
pairs AS (
  SELECT p.lang, p.term AS wi, q.term AS wj
  FROM topk p JOIN topk q ON p.lang = q.lang AND p.rank < q.rank),
scoredp AS (
  SELECT pr.lang,
         CASE
           WHEN coalesce(c.d_ab, 0) = 0 THEN -1.0
           WHEN c.d_ab = n.nd THEN 1.0
           ELSE ln((c.d_ab / CAST(n.nd AS DOUBLE))
                   / ((di.d / CAST(n.nd AS DOUBLE)) * (dj.d / CAST(n.nd AS DOUBLE))))
                / (-ln(c.d_ab / CAST(n.nd AS DOUBLE)))
         END AS s
  FROM pairs pr CROSS JOIN n
  JOIN dfreq di ON di.term = pr.wi
  JOIN dfreq dj ON dj.term = pr.wj
  LEFT JOIN co c ON c.term_a = least(pr.wi, pr.wj)
              AND c.term_b = greatest(pr.wi, pr.wj))
SELECT lang, round(avg(s), 6) AS coherence FROM scoredp GROUP BY lang"""

SQL_TOPIC_DIVERSITY = f"""WITH {_EVAL_TOPK_SQL}
SELECT (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM topk) AS n_topics,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(count(DISTINCT term) AS BIGINT) AS n_unique,
       round(count(DISTINCT term) * 1.0 / count(*), 6) AS diversity
FROM topk"""


CONT_N, CONT_TAU = 2, 0.5
ADH_TARGET = 20


def q_dedup_containment(spark, sf_dir):
    """Directed shingle containment (operators/dedup.containment_pairs —
    Broder's asymmetric companion of resemblance): quote/excerpt
    detection Jaccard misses when the container dwarfs the contained
    doc. 2-gram shingles, C >= 0.5, with the default "auto"
    heavy-shingle guard (df > max(256, 0.5% of docs) dropped) — the
    oracle applies the identical guard predicate."""
    from bertopic_spark.operators.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf_dir), "text", "doc_id",
                             n=CONT_N, threshold=CONT_TAU)


def q_dedup_containment_boiler(spark, sf_dir):
    """Pathological boilerplate-cluster gate for the containment guard:
    1,000 synthetic docs (each documents row x2) that ALL share an
    8-token boilerplate prefix — unguarded, those 7 stop-shingles alone
    create ~500k candidate pairs (m² in the cluster size); the "auto"
    guard drops them and candidates stay LINEAR (20-doc groups sharing a
    per-group phrase -> 50·20·19 = 19,000 directed rows). DuckDB oracle
    reproduces the guarded result exactly."""
    from bertopic_spark.operators.dedup import containment_pairs

    base = _docs(spark, sf_dir).select("doc_id")
    synth = (base.select("doc_id",
                         F.explode(F.array(F.lit(0), F.lit(1))).alias("_r"))
             .select((F.col("doc_id") * 2 + F.col("_r")).cast("long")
                     .alias("sid")))
    g = (F.col("sid") % 50).cast("string")
    text = F.concat_ws(
        " ", F.lit("b1 b2 b3 b4 b5 b6 b7 b8"),
        F.concat(F.lit("g"), g, F.lit("a")),
        F.concat(F.lit("g"), g, F.lit("b")),
        F.concat(F.lit("g"), g, F.lit("c")),
        F.concat(F.lit("g"), g, F.lit("d")),
        F.concat(F.lit("u"), F.col("sid").cast("string")))
    docs = synth.select("sid", text.alias("text"))
    return containment_pairs(docs, "text", "sid", n=CONT_N,
                             threshold=CONT_TAU)


SQL_DEDUP_CONTAINMENT = f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
sh0 AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS shingle
        FROM tk, unnest(generate_series(1, greatest(len(ts)-1, 0))) AS u(i)),
-- the "auto" heavy-shingle guard (dedup.AUTO_MIN_DF/AUTO_DF_FRAC):
-- drop shingles with df > max(256, ceil(0.005 * n_docs))
nd AS (SELECT count(DISTINCT doc_id) AS n FROM sh0),
heavy AS (SELECT shingle FROM sh0 CROSS JOIN nd
          GROUP BY shingle, nd.n
          HAVING count(*) > greatest(256, CAST(ceil(0.005 * nd.n) AS BIGINT))),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM heavy)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS i
          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
bo AS (SELECT id_a, id_b, i, sa.sz AS sz_a, sb.sz AS sz_b
         FROM inter JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b),
dirs AS (
  SELECT id_a AS contained_id, id_b AS container_id,
         i * 1.0 / sz_a AS c FROM bo
  UNION ALL
  SELECT id_b, id_a, i * 1.0 / sz_b FROM bo)
SELECT contained_id, container_id, round(c, 6) AS containment
FROM dirs WHERE c >= {CONT_TAU}"""


SQL_DEDUP_CONTAINMENT_BOILER = f"""WITH
ids AS (SELECT doc_id * 2 AS sid FROM documents
        UNION ALL SELECT doc_id * 2 + 1 FROM documents),
d AS (SELECT sid,
             'b1 b2 b3 b4 b5 b6 b7 b8 g' || (sid % 50) || 'a g' ||
             (sid % 50) || 'b g' || (sid % 50) || 'c g' || (sid % 50) ||
             'd u' || sid AS text
      FROM ids),
tk AS (SELECT sid, {duckdb_tokens_sql('text', MODE)} AS ts FROM d),
sh0 AS (SELECT DISTINCT sid, ts[i] || ' ' || ts[i+1] AS shingle
        FROM tk, unnest(generate_series(1, greatest(len(ts)-1, 0))) AS u(i)),
nd AS (SELECT count(DISTINCT sid) AS n FROM sh0),
heavy AS (SELECT shingle FROM sh0 CROSS JOIN nd
          GROUP BY shingle, nd.n
          HAVING count(*) > greatest(256, CAST(ceil(0.005 * nd.n) AS BIGINT))),
sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM heavy)),
sizes AS (SELECT sid, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY sid),
inter AS (SELECT a.sid AS id_a, b.sid AS id_b, CAST(count(*) AS BIGINT) AS i
          FROM sh a JOIN sh b USING (shingle) WHERE a.sid < b.sid
          GROUP BY a.sid, b.sid),
bo AS (SELECT id_a, id_b, i, sa.sz AS sz_a, sb.sz AS sz_b
         FROM inter JOIN sizes sa ON sa.sid = id_a
              JOIN sizes sb ON sb.sid = id_b),
dirs AS (
  SELECT id_a AS contained_id, id_b AS container_id,
         i * 1.0 / sz_a AS c FROM bo
  UNION ALL
  SELECT id_b, id_a, i * 1.0 / sz_b FROM bo)
SELECT contained_id, container_id, round(c, 6) AS containment
FROM dirs WHERE c >= {CONT_TAU}"""


def q_auto_date_histogram(spark, sf_dir):
    """ES auto_date_histogram (operators/rollup.auto_date_histogram):
    smallest calendar interval whose bucket count is guaranteed <=
    target over the event span (upper-bound seconds per unit), then the
    plain histogram at that interval."""
    from bertopic_spark.operators.rollup import auto_date_histogram

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return auto_date_histogram(ev, "ts", target_buckets=ADH_TARGET)


def _sql_auto_date_histogram() -> str:
    cases = " ".join(
        f"WHEN floor(epoch(hi - lo) / {unit}) + 1 <= {ADH_TARGET} "
        f"THEN '{name}'"
        for name, unit in
        [("second", 1), ("minute", 60), ("hour", 3600), ("day", 86400),
         ("week", 7 * 86400), ("month", 31 * 86400),
         ("quarter", 92 * 86400)])
    return f"""WITH
sp AS (SELECT min(ts) AS lo, max(ts) AS hi FROM events WHERE ts IS NOT NULL),
iv AS (SELECT CASE {cases} ELSE 'year' END AS iv FROM sp)
SELECT iv.iv AS interval, date_trunc(iv.iv, e.ts) AS bucket,
       CAST(count(*) AS BIGINT) AS doc_count
FROM events e CROSS JOIN iv WHERE e.ts IS NOT NULL
GROUP BY iv.iv, date_trunc(iv.iv, e.ts)"""


MBP_QUERY = "merge sor"
SIGQ_TEXT, SIGQ_KDOCS, SIGQ_KTERMS = "hash join", 20, 10
PINNED_IDS = (42, 7)


def q_match_bool_prefix(spark, sf_dir):
    """ES match_bool_prefix (operators/fulltext.match_bool_prefix_topk):
    'merge' Okapi-scored + 'sor*' prefix leg under Lucene constant-score
    rewrite (+1/doc) — the search-as-you-type query without extra index
    structure."""
    from bertopic_spark.operators.fulltext import match_bool_prefix_topk

    t = match_bool_prefix_topk(_docs(spark, sf_dir), MBP_QUERY, k=10,
                               text_col="text", mode=MODE,
                               k1=OKAPI_K1, b=OKAPI_B)
    return t.select("doc_id", _r6(F.col("score")).alias("score"),
                    F.col("rank").cast("long").alias("rn"))


def _sql_match_bool_prefix() -> str:
    full = MBP_QUERY.split()[0]
    prefix = MBP_QUERY.split()[-1]
    return f"""WITH {_TOKS}, {_XDOC},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
hits AS (
  SELECT x.doc_id,
         sum(ln(1.0 + (ns.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * dl.dl / ns.avgdl))) AS s
  FROM xdoc x JOIN dfs USING (term) JOIN dl ON dl.doc_id = x.doc_id
       CROSS JOIN nstats ns
  WHERE x.term = '{full}' GROUP BY x.doc_id),
pd AS (SELECT DISTINCT doc_id, 1.0 AS p FROM xdoc
       WHERE term LIKE '{prefix}%'),
u AS (SELECT coalesce(h.doc_id, pd.doc_id) AS doc_id,
             coalesce(h.s, 0.0) + coalesce(pd.p, 0.0) AS score
      FROM hits h FULL JOIN pd ON pd.doc_id = h.doc_id),
ranked AS (SELECT doc_id, score,
                  row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
           FROM u)
SELECT doc_id, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_significant_results_terms(spark, sf_dir):
    """significant_terms under a query (operators/fulltext.
    significant_results_terms — ES's classic usage): JLH terms of the
    Okapi top-20 for 'hash join' vs the whole corpus; one tokenize pass
    shared by retrieval and the fg/bg stats."""
    from bertopic_spark.operators.fulltext import significant_results_terms

    t = significant_results_terms(_docs(spark, sf_dir), SIGQ_TEXT,
                                  k_docs=SIGQ_KDOCS, k_terms=SIGQ_KTERMS,
                                  text_col="text", mode=MODE,
                                  k1=OKAPI_K1, b=OKAPI_B)
    return t.select("term", "df_fg", "df_all",
                    _r6(F.col("score")).alias("score"),
                    F.col("rank").cast("long").alias("rn"))


def _sql_significant_results() -> str:
    qterms = ", ".join(
        f"'{t}'" for t in sorted(set(tokenize_one(SIGQ_TEXT, MODE))))
    return f"""WITH {_TOKS}, {_XDOC},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
hits AS (
  SELECT x.doc_id,
         sum(ln(1.0 + (ns.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * dl.dl / ns.avgdl))) AS s
  FROM xdoc x JOIN dfs USING (term) JOIN dl ON dl.doc_id = x.doc_id
       CROSS JOIN nstats ns
  WHERE x.term IN ({qterms}) GROUP BY x.doc_id),
fg AS (SELECT doc_id FROM hits ORDER BY s DESC, doc_id ASC
       LIMIT {SIGQ_KDOCS}),
tot AS (SELECT CAST(count(DISTINCT x.doc_id) AS DOUBLE) AS n_all,
               CAST((SELECT count(*) FROM fg) AS DOUBLE) AS n_fg
        FROM xdoc x),
per AS (SELECT x.term,
               CAST(count(DISTINCT CASE WHEN f.doc_id IS NOT NULL
                                        THEN x.doc_id END) AS BIGINT) AS df_fg,
               CAST(count(DISTINCT x.doc_id) AS BIGINT) AS df_all
        FROM xdoc x LEFT JOIN fg f ON f.doc_id = x.doc_id
        GROUP BY x.term),
sc AS (SELECT term, df_fg, df_all,
              (df_fg / t.n_fg - df_all / t.n_all) *
              ((df_fg / t.n_fg) / (df_all / t.n_all)) AS score
       FROM per CROSS JOIN tot t
       WHERE df_fg > 0 AND df_fg / t.n_fg > df_all / t.n_all),
ranked AS (SELECT term, df_fg, df_all, score,
                  row_number() OVER (ORDER BY score DESC, term ASC) AS rn
           FROM sc)
SELECT term, df_fg, df_all, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {SIGQ_KTERMS}"""


def q_pinned_topk(spark, sf_dir):
    """ES pinned query (operators/fulltext.pinned_topk): editorial ids
    42, 7 take ranks 1-2 in listed order for every query; the Okapi
    top-10 organic tail follows with pinned ids deduplicated."""
    from bertopic_spark.operators.bm25 import okapi_bm25_topk
    from bertopic_spark.operators.fulltext import pinned_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    organic = okapi_bm25_topk(_docs(spark, sf_dir), qt, k=10, k1=OKAPI_K1,
                              b=OKAPI_B, text_col="text", mode=MODE)
    t = pinned_topk(organic, list(PINNED_IDS), k=10)
    return t.select("query_id", "doc_id", "pinned",
                    _r6(F.col("score")).alias("score"),
                    F.col("rank").cast("long").alias("rn"))


def _sql_pinned() -> str:
    pins = ", ".join(f"({i + 1}, {d})" for i, d in enumerate(PINNED_IDS))
    return f"""WITH {_TOKS}, {_XDOC},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(ln(1.0 + (ns.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * dl.dl / ns.avgdl))) AS score
  FROM q JOIN xdoc x USING (term) JOIN dfs USING (term)
       JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN nstats ns
  GROUP BY q.query_id, x.doc_id),
oranked AS (SELECT query_id, doc_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id ASC) AS orn
            FROM hits),
organic AS (SELECT query_id, doc_id, score FROM oranked WHERE orn <= 10),
pins(pin, doc_id) AS (VALUES {pins}),
qids AS (SELECT DISTINCT query_id FROM organic),
prow AS (SELECT q.query_id, p.doc_id, CAST(NULL AS DOUBLE) AS score, p.pin
         FROM qids q CROSS JOIN pins p),
orow AS (SELECT o.query_id, o.doc_id, o.score, CAST(NULL AS INT) AS pin
         FROM organic o WHERE o.doc_id NOT IN (SELECT doc_id FROM pins)),
u AS (SELECT * FROM prow UNION ALL SELECT * FROM orow),
ranked AS (SELECT query_id, doc_id, (pin IS NOT NULL) AS pinned, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY coalesce(pin, 1073741824),
                                              score DESC NULLS LAST,
                                              doc_id ASC) AS rn
           FROM u)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, pinned,
       round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


SEMDEDUP_NLIST, SEMDEDUP_TAU = 8, 0.35


def q_semdedup(spark, sf_dir):
    """SemDeDup (operators/dedup.semdedup — Abbas et al. 2023): k-means
    embedding clusters (deterministic seeds, iters=0 for the cross-engine
    oracle), within-cluster cosine>tau pair graph, connected components,
    keep the member LEAST similar to its cluster centroid (the paper's
    keep rule). tau=0.35 sits in the top ~0.1% of this synthetic
    embedding table's pair-cosine distribution (max 0.51 — no real dups
    by construction), exercising non-trivial multi-member groups."""
    from bertopic_spark.operators.dedup import semdedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semdedup(emb, nlist=SEMDEDUP_NLIST, tau=SEMDEDUP_TAU)


def _sql_semdedup() -> str:
    return f"""WITH RECURSIVE
v AS (SELECT vec_id, i - 1 AS dim, CAST(val AS DOUBLE) AS val
      FROM (SELECT vec_id, unnest(embedding) AS val,
                   generate_subscripts(embedding, 1) AS i FROM embeddings)),
norms AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM v GROUP BY vec_id),
cent AS (SELECT vec_id AS cvid, row_number() OVER (ORDER BY vec_id) AS list_id
         FROM (SELECT vec_id FROM embeddings ORDER BY vec_id
               LIMIT {SEMDEDUP_NLIST})),
cv AS (SELECT c.list_id, v.dim, v.val FROM cent c JOIN v ON v.vec_id = c.cvid),
cnorm AS (SELECT list_id, sqrt(sum(val * val)) AS nrm FROM cv GROUP BY list_id),
adots AS (SELECT v.vec_id, cv.list_id, sum(v.val * cv.val) AS dot
          FROM v JOIN cv ON v.dim = cv.dim GROUP BY v.vec_id, cv.list_id),
asims AS (SELECT a.vec_id, a.list_id, a.dot / (n.nrm * c.nrm) AS sim
          FROM adots a JOIN norms n USING (vec_id)
               JOIN cnorm c USING (list_id)),
assigned AS (SELECT vec_id, list_id FROM (
  SELECT vec_id, list_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, list_id ASC) AS rn
  FROM asims) WHERE rn = 1),
pdot AS (SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.val * b.val) AS dot
         FROM v a JOIN assigned aa ON aa.vec_id = a.vec_id
              JOIN assigned ab ON ab.list_id = aa.list_id
              JOIN v b ON b.vec_id = ab.vec_id AND b.dim = a.dim
                      AND a.vec_id < b.vec_id
         GROUP BY a.vec_id, b.vec_id),
pairs AS (SELECT ia AS id_a, ib AS id_b FROM pdot
          JOIN norms na ON na.vec_id = ia JOIN norms nb ON nb.vec_id = ib
          WHERE dot / (na.nrm * nb.nrm) > {SEMDEDUP_TAU}),
sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(node, lab) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.src, r.lab FROM sym s JOIN reach r ON s.dst = r.node),
comp AS (SELECT node AS vec_id, min(lab) AS component FROM reach GROUP BY node),
csim AS (SELECT a.vec_id, a.dot / (n.nrm * c.nrm) AS cs
         FROM adots a
         JOIN assigned ag ON ag.vec_id = a.vec_id AND ag.list_id = a.list_id
         JOIN norms n ON n.vec_id = a.vec_id
         JOIN cnorm c ON c.list_id = a.list_id),
ranked AS (SELECT cm.component, cm.vec_id, cs.cs,
                  row_number() OVER (PARTITION BY cm.component
                                     ORDER BY cs.cs ASC, cm.vec_id ASC) AS rn,
                  count(*) OVER (PARTITION BY cm.component) AS nm
           FROM comp cm JOIN csim cs ON cs.vec_id = cm.vec_id)
SELECT component, vec_id AS keep_id, CAST(nm AS BIGINT) AS n_members
FROM ranked WHERE rn = 1"""


WCI_PATTERN = "*indo*"


def q_wildcard_indexed(spark, sf_dir):
    """Trigram-accelerated infix wildcard (operators/fulltext.
    term_trigrams + wildcard_terms_indexed — the ES wildcard-field
    design): candidates from a gram-postings intersection over the term
    dictionary, exact-regex verified, result-identical to the
    dictionary-scan path. Gate returns the matched terms with df."""
    from bertopic_spark.operators.fulltext import (term_trigrams,
                                                   wildcard_terms_indexed)

    x = _doc_x(spark, sf_dir)
    dic = x.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    tri = term_trigrams(dic)
    terms = wildcard_terms_indexed(dic, tri, WCI_PATTERN)
    if not terms:
        return dic.filter(F.lit(False)).select("term", "df")
    return dic.filter(F.col("term").isin(terms)).select("term", "df")


def _sql_wildcard_indexed() -> str:
    like = WCI_PATTERN.replace("*", "%").replace("?", "_")
    return f"""WITH {_TOKS}, {_XDOC}
SELECT term, CAST(count(*) AS BIGINT) AS df
FROM xdoc WHERE term LIKE '{like}' GROUP BY term"""


SNO_SLOTS, SNO_SLOP = (("hash", "merge"), ("join",)), 6
SF_TERMS, SF_END = ("spark", "window"), 4
FVF_FACTOR = 0.01


def q_span_near_or_match(spark, sf_dir):
    """Ordered span-near over span_or slots (operators/fulltext.
    span_near_or_match — ES span_near wrapping span_or clauses): docs
    where {hash|merge} precedes {join} within slop 6 — (doc_id,
    min_span) via the generalized linear sweep (slot membership instead
    of term equality), one scan, no UDF."""
    from bertopic_spark.operators.fulltext import span_near_or_match

    return span_near_or_match(_docs(spark, sf_dir), SNO_SLOTS, SNO_SLOP,
                              text_col="text", mode=MODE)


def _sql_span_near_or() -> str:
    s0 = ", ".join(f"'{t}'" for t in SNO_SLOTS[0])
    s1 = ", ".join(f"'{t}'" for t in SNO_SLOTS[1])
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos FROM tk),
sp AS (SELECT p0.doc_id, p1.pos - p0.pos + 1 AS span
       FROM p p0 JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.pos > p0.pos
            AND p1.term IN ({s1})
       WHERE p0.term IN ({s0})),
m AS (SELECT doc_id, CAST(min(span) AS BIGINT) AS min_span
      FROM sp GROUP BY doc_id)
SELECT doc_id, min_span FROM m WHERE min_span <= {len(SNO_SLOTS) + SNO_SLOP}"""


def q_span_first_match(spark, sf_dir):
    """ES span_first (operators/fulltext.span_first_match): docs whose
    first occurrence of {spark|window} is within the first 4 tokens —
    (doc_id, first_pos). One narrow first-index HOF pass."""
    from bertopic_spark.operators.fulltext import span_first_match

    return span_first_match(_docs(spark, sf_dir), SF_TERMS, SF_END,
                            text_col="text", mode=MODE)


def _sql_span_first() -> str:
    ts = ", ".join(f"'{t}'" for t in SF_TERMS)
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos FROM tk)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS first_pos
FROM p WHERE term IN ({ts})
GROUP BY doc_id HAVING min(pos) + 1 <= {SF_END}"""


def q_field_value_factor(spark, sf_dir):
    """ES function_score field_value_factor (operators/bm25.
    field_value_factor_topk): Okapi BM25 × ln1p(0.01·n_chars) — the
    static popularity/length boost, ranked AFTER modification (not a
    top-k rescore)."""
    from bertopic_spark.operators.bm25 import field_value_factor_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = field_value_factor_topk(
        _docs(spark, sf_dir), qt, "n_chars", k=10, factor=FVF_FACTOR,
        modifier="ln1p", boost_mode="multiply", k1=OKAPI_K1, b=OKAPI_B,
        text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"))


def _sql_field_value_factor() -> str:
    return f"""WITH {_TOKS}, {_XDOC},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(ln(1.0 + (ns.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * dl.dl / ns.avgdl))) AS score
  FROM q JOIN xdoc x USING (term) JOIN dfs USING (term)
       JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN nstats ns
  GROUP BY q.query_id, x.doc_id),
blended AS (
  SELECT h.query_id, h.doc_id,
         h.score * ln(1.0 + {FVF_FACTOR} * d.n_chars) AS score
  FROM hits h JOIN documents d USING (doc_id)),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC) AS rn
           FROM blended)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


MM_TIE, MM_TITLE_BOOST = 0.3, 2.0


def q_multi_match_best_fields(spark, sf_dir):
    """ES multi_match type=best_fields (operators/bm25.multi_match_topk —
    Lucene DisjunctionMaxQuery semantics): title^2 + body, each field
    Okapi-scored with its OWN df/avgdl stats, combined as
    max + tie_breaker·rest (tie_breaker=0.3). Title is the first 5 body
    tokens — the same deterministic field split in both engines."""
    from bertopic_spark.operators.bm25 import multi_match_topk
    from bertopic_spark.tokenizer import tokens_expr

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", F.slice(tokens_expr(F.col("text"), MODE), 1, 5))
        .alias("title"),
        F.col("text").alias("body"))
    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = multi_match_topk(d, qt, {"title": MM_TITLE_BOOST, "body": 1.0},
                         k=10, tie_breaker=MM_TIE, k1=OKAPI_K1, b=OKAPI_B,
                         mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"))


def _sql_multi_match() -> str:
    okapi = (f"ln(1.0 + (ns.n - f.df + 0.5) / (f.df + 0.5)) * "
             f"x.tf * {OKAPI_K1 + 1.0} / "
             f"(x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} + "
             f"{OKAPI_B} * d.dl / ns.avgdl))")
    return f"""WITH {_TOKS}, {_XDOC},
dlb AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nsb AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dlb),
dfb AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
tt AS (SELECT doc_id,
              unnest(({duckdb_tokens_sql('text', MODE)})[1:5]) AS term
       FROM documents),
xt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tt GROUP BY doc_id, term),
dlt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xt GROUP BY doc_id),
nst AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dlt),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xt GROUP BY term),
q(query_id, term) AS (VALUES {_query_term_values()}),
hb AS (SELECT q.query_id, x.doc_id, 1.0 * sum({okapi}) AS fscore
       FROM q JOIN xdoc x USING (term) JOIN dfb f USING (term)
            JOIN dlb d ON d.doc_id = x.doc_id CROSS JOIN nsb ns
       GROUP BY q.query_id, x.doc_id),
ht AS (SELECT q.query_id, x.doc_id, {MM_TITLE_BOOST} * sum({okapi}) AS fscore
       FROM q JOIN xt x USING (term) JOIN dft f USING (term)
            JOIN dlt d ON d.doc_id = x.doc_id CROSS JOIN nst ns
       GROUP BY q.query_id, x.doc_id),
u AS (SELECT * FROM hb UNION ALL SELECT * FROM ht),
comb AS (SELECT query_id, doc_id,
                max(fscore) + {MM_TIE} * (sum(fscore) - max(fscore)) AS score
         FROM u GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC) AS rn
           FROM comb)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


# ---------------------------------------------------------------------------
# Code-structure extraction gates (operators/codestruct): the documents text
# is deterministically rendered into pseudo-source (the code_tokenize_counts
# precedent — same construction in BOTH engines), then the operators'
# RE2-safe patterns run verbatim in Spark and DuckDB, so the value hash
# proves the extraction itself, not just the aggregation.
# Token i ↦ line: i%7==0 comment, ==1 def, ==2 import, else statement.
# ---------------------------------------------------------------------------

def _pseudo_code_df(spark, sf_dir):
    from bertopic_spark.tokenizer import tokens_expr

    toks = tokens_expr(F.col("text"), "ascii_code")
    lines = F.transform(toks, lambda t, i: (
        F.when(i % 7 == 0, F.concat(F.lit("// "), t, F.lit(" note")))
        .when(i % 7 == 1, F.concat(F.lit("def "), t, F.lit("():")))
        .when(i % 7 == 2, F.concat(F.lit("import "), t))
        .otherwise(F.concat(F.lit("  x = call("), t, F.lit(")")))))
    return _docs(spark, sf_dir).select(
        "doc_id", "lang", F.concat_ws("\n", lines).alias("content"))


_SQL_PSEUDO_CODE = f"""
tkc AS (SELECT doc_id, lang, {duckdb_tokens_sql('text', 'ascii_code')} AS ts
        FROM documents),
pc AS (SELECT doc_id, lang,
              array_to_string(list_transform(ts, (t, i) ->
                CASE WHEN (i - 1) % 7 = 0 THEN '// ' || t || ' note'
                     WHEN (i - 1) % 7 = 1 THEN 'def ' || t || '():'
                     WHEN (i - 1) % 7 = 2 THEN 'import ' || t
                     ELSE '  x = call(' || t || ')' END), chr(10)) AS content
       FROM tkc)"""


def q_comment_terms_topk(spark, sf_dir):
    """Comment-field search (operators/codestruct.comment_term_counts —
    the "search in comments only" analyzer of code search engines): line
    comments are regexp-extracted from the pseudo-source, ONLY the comment
    spans are tokenized, per-lang term counts, top 12 terms per lang.
    The same RE2 pattern runs in DuckDB."""
    from pyspark.sql import Window

    from bertopic_spark.operators.codestruct import comment_term_counts

    x = comment_term_counts(_pseudo_code_df(spark, sf_dir), ["lang"],
                            mode="ascii_code")
    w = Window.partitionBy("lang").orderBy(F.desc("tf"), F.asc("term"))
    return (x.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 12)
            .select("lang", "term", "tf", F.col("rn").cast("long").alias("rn")))


def _sql_comment_terms() -> str:
    from bertopic_spark.operators.codestruct import COMMENT_PATTERN

    return f"""WITH {_SQL_PSEUDO_CODE},
cm AS (SELECT lang,
              unnest(regexp_extract_all(content, '{COMMENT_PATTERN}', 1))
              AS comment
       FROM pc),
ct AS (SELECT lang, unnest({duckdb_tokens_sql('comment', 'ascii_code')}) AS term
       FROM cm),
agg AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS tf
        FROM ct GROUP BY lang, term),
rk AS (SELECT lang, term, tf,
              row_number() OVER (PARTITION BY lang
                                 ORDER BY tf DESC, term ASC) AS rn
       FROM agg)
SELECT lang, term, tf, CAST(rn AS BIGINT) AS rn FROM rk WHERE rn <= 12"""


def q_symbol_definitions(spark, sf_dir):
    """Definition-site index (operators/codestruct.symbol_stats — the
    relation behind "go to definition" ranking): def-pattern symbols with
    total definition count and distinct defining docs, top 50."""
    from bertopic_spark.operators.codestruct import symbol_stats

    return (symbol_stats(_pseudo_code_df(spark, sf_dir))
            .orderBy(F.desc("n_defs"), F.asc("symbol")).limit(50))


def _sql_symbol_defs() -> str:
    from bertopic_spark.operators.codestruct import DEF_PATTERN

    return f"""WITH {_SQL_PSEUDO_CODE},
sy AS (SELECT doc_id,
              unnest(regexp_extract_all(content, '{DEF_PATTERN}', 1)) AS symbol
       FROM pc)
SELECT symbol, CAST(count(*) AS BIGINT) AS n_defs,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM sy GROUP BY symbol
ORDER BY n_defs DESC, symbol ASC LIMIT 50"""


def q_symbol_resolve(spark, sf_dir):
    """Cross-reference resolution (operators/codestruct.resolve_imports):
    import edges LEFT-joined to the symbol-definition index on the
    module's head segment — n_def_docs = 0 marks external/unresolvable
    imports (the broken-import audit). Thresholded like import_edges."""
    from bertopic_spark.operators.codestruct import resolve_imports

    r = resolve_imports(_pseudo_code_df(spark, sf_dir), "lang")
    return (r.filter(F.col("n_imports") >= 3)
            .select("src", "module", "n_imports", "n_def_docs"))


def _sql_symbol_resolve() -> str:
    from bertopic_spark.operators.codestruct import (DEF_PATTERN,
                                                     IMPORT_PATTERN)

    return f"""WITH {_SQL_PSEUDO_CODE},
im AS (SELECT lang AS src,
              unnest(regexp_extract_all(content, '{IMPORT_PATTERN}', 1))
              AS module
       FROM pc),
imp AS (SELECT src, module, CAST(count(*) AS BIGINT) AS n_imports
        FROM im GROUP BY src, module HAVING count(*) >= 3),
sy AS (SELECT doc_id,
              unnest(regexp_extract_all(content, '{DEF_PATTERN}', 1)) AS symbol
       FROM pc),
defs AS (SELECT symbol, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM sy GROUP BY symbol)
SELECT i.src, i.module, i.n_imports,
       CAST(coalesce(d.n_docs, 0) AS BIGINT) AS n_def_docs
FROM imp i LEFT JOIN defs d ON d.symbol = split_part(i.module, '.', 1)"""


def q_import_edges(spark, sf_dir):
    """Dependency edges (operators/codestruct.import_edges): which lang
    group imports which module, how often — the relation PageRank ranks
    for dependency centrality. Thresholded at n_imports >= 3 so the gate
    set is deterministic and bounded."""
    from bertopic_spark.operators.codestruct import import_edges

    e = import_edges(_pseudo_code_df(spark, sf_dir), "lang")
    return e.filter(F.col("n_imports") >= 3).select("src", "module", "n_imports")


def _sql_import_edges() -> str:
    from bertopic_spark.operators.codestruct import IMPORT_PATTERN

    return f"""WITH {_SQL_PSEUDO_CODE},
im AS (SELECT lang AS src,
              unnest(regexp_extract_all(content, '{IMPORT_PATTERN}', 1))
              AS module
       FROM pc)
SELECT src, module, CAST(count(*) AS BIGINT) AS n_imports
FROM im GROUP BY src, module HAVING count(*) >= 3"""


RF_PIVOT, RF_BOOST = 200.0, 1.5


def q_rank_feature_topk(spark, sf_dir):
    """ES ``rank_feature`` query beside a match (operators/bm25.
    rank_feature_topk): Okapi relevance + boost·saturation(n_chars) with
    pivot 200 — the static-feature boosting clause (pagerank/freshness/
    stars). The feature is one narrow corpus projection; additive, so
    only term-matching docs rank."""
    from bertopic_spark.operators.bm25 import rank_feature_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = rank_feature_topk(_docs(spark, sf_dir), qt, "n_chars",
                          function="saturation", pivot=RF_PIVOT,
                          boost=RF_BOOST, k=10, k1=OKAPI_K1, b=OKAPI_B,
                          text_col="text", mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_RANK_FEATURE = f"""WITH {_TOKS}, {_XDOC},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(ln(1.0 + (ns.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * dl.dl / ns.avgdl))) AS score
  FROM q JOIN xdoc x USING (term) JOIN dfs USING (term)
       JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN nstats ns
  GROUP BY q.query_id, x.doc_id),
feat AS (
  SELECT doc_id,
         {RF_BOOST} * CASE WHEN n_chars > 0
              THEN CAST(n_chars AS DOUBLE) / (n_chars + {RF_PIVOT})
              ELSE 0.0 END AS rf
  FROM documents),
scored AS (
  SELECT h.query_id, h.doc_id, h.score + f.rf AS score
  FROM hits h JOIN feat f USING (doc_id)),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


DFEAT_ORIGIN = "2024-01-15 00:00:00"
DFEAT_PIVOT_US = 3 * 86400 * 1_000_000  # "3d" in microseconds
DFEAT_BOOST, DFEAT_K = 2.0, 20


def q_distance_feature_topk(spark, sf_dir):
    """ES ``distance_feature`` query, date flavor (operators/bm25.
    distance_feature_topk): click events ranked by proximity of ts to an
    origin — score = boost·pivot/(pivot+|ts−origin|) in microseconds
    (unix_micros == DuckDB epoch_us, no truncation drift). The "boost
    recent documents" primitive: filter → one scoring projection → one
    top-k window, no join."""
    from bertopic_spark.operators.bm25 import distance_feature_topk

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = distance_feature_topk(ev, "ts", DFEAT_ORIGIN,
                              float(DFEAT_PIVOT_US), boost=DFEAT_BOOST,
                              filter_cond=F.col("event_type") == "click",
                              k=DFEAT_K, id_col="event_id")
    return t.select("event_id", _r6(F.col("score")).alias("score"),
                    F.col("rank").cast("long").alias("rn"))


SQL_DISTANCE_FEATURE = f"""WITH x AS (
  SELECT event_id,
         {DFEAT_BOOST} * {DFEAT_PIVOT_US} /
         ({DFEAT_PIVOT_US} + abs(epoch_us(ts) -
              epoch_us(TIMESTAMP '{DFEAT_ORIGIN}'))) AS score
  FROM events WHERE event_type = 'click'),
ranked AS (
  SELECT event_id, score,
         row_number() OVER (ORDER BY score DESC, event_id ASC) AS rn
  FROM x)
SELECT event_id, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {DFEAT_K}"""


BSEL_MIN_N, BSORT_SIZE = 3, 5


def q_bucket_chain_hourly(spark, sf_dir):
    """The ES histogram post-processing chain (operators/rollup.
    bucket_script → bucket_selector → bucket_sort): hourly buckets per
    event_type get a scripted avg_value = sum/n, buckets below n=3 are
    dropped, and each series keeps its top-5 buckets by count. All three
    steps run over the BUCKET relation (one agg + one window), never the
    raw events."""
    from bertopic_spark.operators.rollup import (bucket_script,
                                                 bucket_selector,
                                                 bucket_sort)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = (ev.groupBy("event_type",
                    F.date_trunc("hour", F.col("ts")).alias("h"))
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum("value").alias("sv")))
    b = bucket_script(b, {"avg_value": F.round(F.col("sv") / F.col("n"), 6)})
    b = bucket_selector(b, F.col("n") >= BSEL_MIN_N)
    b = bucket_sort(b, [F.desc("n"), F.asc("h")], BSORT_SIZE,
                    keys=("event_type",))
    return b.select("event_type", "h", "n", "avg_value")


SQL_BUCKET_CHAIN = f"""WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS n, sum(value) AS sv
  FROM events GROUP BY 1, 2),
scripted AS (
  SELECT event_type, h, n, round(sv / n, 6) AS avg_value
  FROM b WHERE n >= {BSEL_MIN_N}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY n DESC, h ASC) AS rn
  FROM scripted)
SELECT event_type, h, n, avg_value FROM ranked WHERE rn <= {BSORT_SIZE}"""


def q_rate_events_daily(spark, sf_dir):
    """ES ``rate`` aggregation (operators/rollup.rate_agg): daily
    date_histogram per event_type reported as a PER-HOUR event rate —
    count rescaled by unit/interval (÷24). One two-phase agg; the
    rescale is a constant multiply on the bucket relation."""
    from bertopic_spark.operators.rollup import rate_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rate_agg(ev, "ts", "day", "hour", keys=("event_type",))


SQL_RATE_EVENTS = """SELECT event_type, date_trunc('day', ts) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(count(*) * (3600.0 / 86400.0), 6) AS rate
FROM events GROUP BY 1, 2"""


DRANGE_BUCKETS = (
    ("week1", "2024-01-01 00:00:00", "2024-01-08 00:00:00"),
    ("mid_month", "2024-01-08 00:00:00", "2024-01-22 00:00:00"),
    ("from_jan20", "2024-01-20 00:00:00", None),
    ("overlap_15_25", "2024-01-15 00:00:00", "2024-01-25 00:00:00"),
    ("empty_future", "2025-06-01 00:00:00", None),
)


def q_date_range_clicks(spark, sf_dir):
    """ES ``date_range`` aggregation (operators/rollup.date_range_agg)
    over click events: half-open timestamp buckets, NULL bound =
    unbounded, overlapping ranges double-count, empty ranges return 0.
    The literal range list explodes map-side against one scan."""
    from bertopic_spark.operators.rollup import date_range_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return date_range_agg(ev.filter(F.col("event_type") == "click"),
                          "ts", DRANGE_BUCKETS)


def _sql_date_range() -> str:
    vals = ", ".join(
        "('{}', {}, {})".format(
            k,
            "CAST(NULL AS TIMESTAMP)" if lo is None else f"TIMESTAMP '{lo}'",
            "CAST(NULL AS TIMESTAMP)" if hi is None else f"TIMESTAMP '{hi}'")
        for k, lo, hi in DRANGE_BUCKETS)
    return f"""WITH r(range_key, from_ts, to_ts) AS (VALUES {vals}),
hits AS (
  SELECT r.range_key
  FROM r JOIN events e
    ON (r.from_ts IS NULL OR e.ts >= r.from_ts)
   AND (r.to_ts IS NULL OR e.ts < r.to_ts)
  WHERE e.event_type = 'click'),
agg AS (SELECT range_key, CAST(count(*) AS BIGINT) AS n_docs
        FROM hits GROUP BY 1)
SELECT r.range_key, r.from_ts, r.to_ts, coalesce(a.n_docs, 0) AS n_docs
FROM r LEFT JOIN agg a USING (range_key)"""


FILTERS_AGG_DEFS = (
    ("is_en", "lang = 'en'"),
    ("de_or_fr", "lang IN ('de', 'fr')"),
    ("long_doc", "n_chars > 300"),
)


def q_filters_agg_docs(spark, sf_dir):
    """ES ``filters`` aggregation (operators/rollup.filters_agg): named
    boolean buckets over documents (overlapping by design — long_doc
    intersects the lang buckets) plus the other_bucket counting docs
    matching none. Every filter evaluates as a 0/1 in ONE projection and
    one global agg — never a pass per filter."""
    from bertopic_spark.operators.rollup import filters_agg

    d = _docs(spark, sf_dir)
    return filters_agg(d, {
        "is_en": F.col("lang") == "en",
        "de_or_fr": F.col("lang").isin("de", "fr"),
        "long_doc": F.col("n_chars") > 300,
    }, other_bucket=True)


def _sql_filters_agg() -> str:
    sums = ", ".join(
        f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS {name}"
        for name, cond in FILTERS_AGG_DEFS)
    none_cond = " OR ".join(f"({cond})" for _, cond in FILTERS_AGG_DEFS)
    arms = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS filter_key, {name} AS n_docs FROM s"
        for name, _ in FILTERS_AGG_DEFS)
    return f"""WITH s AS (
  SELECT {sums},
         CAST(sum(CASE WHEN NOT coalesce({none_cond}, FALSE)
                  THEN 1 ELSE 0 END) AS BIGINT) AS other_n
  FROM documents)
{arms}
UNION ALL
SELECT '_other_' AS filter_key, other_n AS n_docs FROM s"""


SPANC_BIG, SPANC_LITTLE, SPANC_SLOP = ("hash", "join"), "scan", 6


def _sql_span_big_pairs() -> str:
    return f"""
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos FROM tk),
sp AS (SELECT p0.doc_id, p0.pos AS a, p1.pos AS b
       FROM p p0 JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.pos > p0.pos
            AND p1.term = '{SPANC_BIG[1]}'
       WHERE p0.term = '{SPANC_BIG[0]}'
         AND p1.pos - p0.pos + 1 <= {len(SPANC_BIG) + SPANC_SLOP})"""


def q_span_within_match(spark, sf_dir):
    """ES ``span_within`` (operators/fulltext.span_within_match):
    occurrences of '{little}' that fall inside an ordered
    '{b0} … {b1}' span within slop — (doc_id, pos). The containment
    test is nested in-array HOFs in one corpus pass; postings-path
    parity is pytest-pinned."""
    from bertopic_spark.operators.fulltext import span_within_match

    return span_within_match(_docs(spark, sf_dir), SPANC_LITTLE,
                             SPANC_BIG, SPANC_SLOP, text_col="text",
                             mode=MODE)


def _sql_span_within() -> str:
    return f"""WITH {_sql_span_big_pairs()}
SELECT DISTINCT sp.doc_id, CAST(l.pos AS BIGINT) AS pos
FROM sp JOIN p l ON l.doc_id = sp.doc_id AND l.term = '{SPANC_LITTLE}'
     AND l.pos BETWEEN sp.a AND sp.b"""


def q_span_containing_match(spark, sf_dir):
    """ES ``span_containing`` (operators/fulltext.span_containing_match):
    docs where an ordered big span contains a little occurrence —
    (doc_id, n_contained distinct little positions inside some valid
    occurrence). Same one-pass HOF core as span_within."""
    from bertopic_spark.operators.fulltext import span_containing_match

    return span_containing_match(_docs(spark, sf_dir), SPANC_BIG,
                                 SPANC_LITTLE, SPANC_SLOP,
                                 text_col="text", mode=MODE)


def _sql_span_containing() -> str:
    return f"""WITH {_sql_span_big_pairs()}
SELECT sp.doc_id, CAST(count(DISTINCT l.pos) AS BIGINT) AS n_contained
FROM sp JOIN p l ON l.doc_id = sp.doc_id AND l.term = '{SPANC_LITTLE}'
     AND l.pos BETWEEN sp.a AND sp.b
GROUP BY sp.doc_id"""


IVL_GAPS = 6
IVL_RULE = {"all_of": [{"match": ["table", "scan"]},
                       {"any_of": [{"match": ["merge"]},
                                   {"match": ["join"]}]}],
            "ordered": True, "max_gaps": IVL_GAPS}


def q_intervals_match(spark, sf_dir):
    """ES ``intervals`` query (operators/fulltext.intervals_match):
    ordered all_of(max_gaps=6) of the exact phrase "table scan" followed
    by merge|join — (doc_id, n_occ distinct occurrence spans, min_span).
    The rule tree compiles to nested array HOFs in one corpus pass."""
    from bertopic_spark.operators.fulltext import intervals_match

    return intervals_match(_docs(spark, sf_dir), IVL_RULE,
                           text_col="text", mode=MODE)


def _sql_intervals() -> str:
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos FROM tk),
m1 AS (SELECT p0.doc_id, p0.pos AS s, p1.pos AS e
       FROM p p0 JOIN p p1 ON p1.doc_id = p0.doc_id
            AND p1.pos = p0.pos + 1 AND p1.term = 'scan'
       WHERE p0.term = 'table'),
m2 AS (SELECT doc_id, pos AS s, pos AS e FROM p
       WHERE term IN ('merge', 'join')),
occ AS (SELECT DISTINCT a.doc_id, a.s, b.e
        FROM m1 a JOIN m2 b ON b.doc_id = a.doc_id AND b.s > a.e
        WHERE (b.e - a.s + 1) - ((a.e - a.s + 1) + (b.e - b.s + 1))
              <= {IVL_GAPS})
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ,
       CAST(min(e - s + 1) AS BIGINT) AS min_span
FROM occ GROUP BY doc_id"""


BM25L_DELTA = 0.5


def q_bm25l_topk(spark, sf_dir):
    """BM25L (operators/bm25.bm25l_topk, Lv & Zhai CIKM'11): normalize
    TF by length FIRST, then saturate with a +δ shift — the long-doc
    fix that completes the lower-bounded BM25 family next to okapi and
    BM25+ (which floors AFTER saturation)."""
    from bertopic_spark.operators.bm25 import bm25l_topk

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = bm25l_topk(_docs(spark, sf_dir), qt, k=10, k1=OKAPI_K1,
                   b=OKAPI_B, delta=BM25L_DELTA, text_col="text",
                   mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"),
    )


SQL_BM25L = f"""WITH {_TOKS}, {_XDOC},
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, x.doc_id,
         sum(ln((ns.n + 1.0) / (dfs.df + 0.5)) *
             {OKAPI_K1 + 1.0} *
             (x.tf / (1.0 - {OKAPI_B} + {OKAPI_B} * dl.dl / ns.avgdl)
              + {BM25L_DELTA}) /
             ({OKAPI_K1} +
              x.tf / (1.0 - {OKAPI_B} + {OKAPI_B} * dl.dl / ns.avgdl)
              + {BM25L_DELTA})) AS score
  FROM q JOIN xdoc x USING (term) JOIN dfs USING (term)
       JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN nstats ns
  GROUP BY q.query_id, x.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM hits)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


SIGT_TEXT, SIGT_KDOCS, SIGT_KTERMS, SIGT_NDUP = "table scan", 15, 8, 60
SIGT_DUP = "table scan boilerplate license header copyright notice"


def q_significant_text(spark, sf_dir):
    """ES ``significant_text`` with filter_duplicate_text (operators/
    fulltext.significant_text): 60 planted boilerplate copies contain
    the query terms, so WITHOUT dedup they'd fill the foreground and
    make 'boilerplate/license/…' look significant; exact-content dedup
    (keep lowest id) collapses them to one before fg/bg counting."""
    from bertopic_spark.operators.fulltext import significant_text

    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("doc_id") < SIGT_NDUP,
               F.lit(SIGT_DUP)).otherwise(F.col("text")))
    t = significant_text(d, SIGT_TEXT, k_docs=SIGT_KDOCS,
                         k_terms=SIGT_KTERMS, filter_duplicate_text=True,
                         text_col="text", mode=MODE,
                         k1=OKAPI_K1, b=OKAPI_B)
    return t.select("term", "df_fg", "df_all",
                    _r6(F.col("score")).alias("score"),
                    F.col("rank").cast("long").alias("rn"))


def _sql_significant_text() -> str:
    qterms = ", ".join(
        f"'{t}'" for t in sorted(set(tokenize_one(SIGT_TEXT, MODE))))
    return f"""WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id < {SIGT_NDUP} THEN '{SIGT_DUP}'
              ELSE text END AS text
  FROM documents),
docs AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY text ORDER BY doc_id ASC) AS drn
    FROM planted)
  WHERE drn = 1),
toks AS (SELECT doc_id, unnest({duckdb_tokens_sql('text', MODE)}) AS term
         FROM docs),
xdoc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
hits AS (
  SELECT x.doc_id,
         sum(ln(1.0 + (ns.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * dl.dl / ns.avgdl))) AS s
  FROM xdoc x JOIN dfs USING (term) JOIN dl ON dl.doc_id = x.doc_id
       CROSS JOIN nstats ns
  WHERE x.term IN ({qterms}) GROUP BY x.doc_id),
fg AS (SELECT doc_id FROM hits ORDER BY s DESC, doc_id ASC
       LIMIT {SIGT_KDOCS}),
tot AS (SELECT CAST(count(DISTINCT x.doc_id) AS DOUBLE) AS n_all,
               CAST((SELECT count(*) FROM fg) AS DOUBLE) AS n_fg
        FROM xdoc x),
per AS (SELECT x.term,
               CAST(count(DISTINCT CASE WHEN f.doc_id IS NOT NULL
                                        THEN x.doc_id END) AS BIGINT) AS df_fg,
               CAST(count(DISTINCT x.doc_id) AS BIGINT) AS df_all
        FROM xdoc x LEFT JOIN fg f ON f.doc_id = x.doc_id
        GROUP BY x.term),
sc AS (SELECT term, df_fg, df_all,
              (df_fg / t.n_fg - df_all / t.n_all) *
              ((df_fg / t.n_fg) / (df_all / t.n_all)) AS score
       FROM per CROSS JOIN tot t
       WHERE df_fg > 0 AND df_fg / t.n_fg > df_all / t.n_all),
ranked AS (SELECT term, df_fg, df_all, score,
                  row_number() OVER (ORDER BY score DESC, term ASC) AS rn
           FROM sc)
SELECT term, df_fg, df_all, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {SIGT_KTERMS}"""


UNIMAX_BUDGET, UNIMAX_EPOCHS, UNIMAX_SEED = 400, 1.5, 42


def q_unimax_sample(spark, sf_dir):
    """UniMax domain mixing (operators/pipeline.unimax_select, Chung et
    al. 2023): a 400-doc budget waterfilled across languages with a
    1.5-epoch per-domain cap — as uniform as the caps allow, in exact
    integer arithmetic. Each doc carries its repeat count (epoching);
    extras picked by md5 rank. The plan is the |domains|-sized agg; the
    selection is one per-domain rank window."""
    from bertopic_spark.operators.pipeline import unimax_select

    return unimax_select(_docs(spark, sf_dir), "lang", UNIMAX_BUDGET,
                         UNIMAX_EPOCHS, id_col="doc_id",
                         seed=UNIMAX_SEED).select(
        "doc_id", "domain", "n_copies")


SQL_UNIMAX = f"""WITH sizes AS (
  SELECT lang AS domain, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1),
caps AS (SELECT domain, n,
                CAST(floor(n * {UNIMAX_EPOCHS}) AS BIGINT) AS cap
         FROM sizes),
tot AS (SELECT CAST(sum(cap) AS BIGINT) AS total FROM caps),
ord AS (SELECT domain, n, cap,
               row_number() OVER (ORDER BY cap, domain) AS i,
               count(*) OVER () AS m,
               coalesce(sum(cap) OVER (ORDER BY cap, domain
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS prefix
        FROM caps),
lvl AS (SELECT i AS istar,
               ({UNIMAX_BUDGET} - prefix) // (m - i + 1) AS lam,
               ({UNIMAX_BUDGET} - prefix) -
               (({UNIMAX_BUDGET} - prefix) // (m - i + 1)) * (m - i + 1)
               AS leftover
        FROM ord
        WHERE cap > ({UNIMAX_BUDGET} - prefix) // (m - i + 1)
        ORDER BY i LIMIT 1),
alloc AS (
  SELECT o.domain, o.n,
         CASE WHEN t.total <= {UNIMAX_BUDGET} THEN o.cap
              WHEN o.i < l.istar THEN o.cap
              ELSE l.lam + CASE WHEN o.i - l.istar < l.leftover
                                THEN 1 ELSE 0 END
         END AS alloc
  FROM ord o CROSS JOIN tot t LEFT JOIN lvl l ON TRUE),
ranked AS (
  SELECT doc_id, lang AS domain,
         row_number() OVER (PARTITION BY lang
             ORDER BY md5(concat('{UNIMAX_SEED}', '_',
                                 CAST(doc_id AS VARCHAR))), doc_id) AS r
  FROM documents)
SELECT rk.doc_id, rk.domain,
       CAST((a.alloc // a.n) +
            CASE WHEN rk.r <= a.alloc % a.n THEN 1 ELSE 0 END
            AS BIGINT) AS n_copies
FROM ranked rk JOIN alloc a USING (domain)
WHERE (a.alloc // a.n) +
      CASE WHEN rk.r <= a.alloc % a.n THEN 1 ELSE 0 END > 0"""


MOVP_WINDOW, MOVP_LO, MOVP_HI, MOVP_BINS = 7, 0.0, 400.0, 32
MOVP_QS = (0.5, 0.9)


def q_moving_percentiles(spark, sf_dir):
    """ES ``moving_percentiles`` (operators/rollup.moving_percentiles):
    p50/p90 of event values over a trailing 7-day window per event_type,
    computed by MERGING per-day fixed-grid histogram sketches over a
    dense bucket spine — the combinable-sketch pipeline agg, exact
    integer counts so the oracle replays it."""
    from bertopic_spark.operators.rollup import moving_percentiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = moving_percentiles(ev, "ts", "value", "day", MOVP_WINDOW,
                           MOVP_QS, MOVP_LO, MOVP_HI, MOVP_BINS,
                           keys=("event_type",))
    return t.select("event_type", "bucket", "q",
                    _r6(F.col("est")).alias("est"))


def _sql_moving_percentiles() -> str:
    w = (MOVP_HI - MOVP_LO) / MOVP_BINS
    qvals = ", ".join(f"({float(q)})" for q in sorted(set(MOVP_QS)))
    return f"""WITH c AS (
  SELECT event_type, date_trunc('day', ts) AS bucket,
         least({MOVP_BINS - 1}, greatest(0,
             CAST(floor((value - {MOVP_LO}) / {w}) AS INT))) AS bin,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
spine AS (
  SELECT event_type,
         unnest(generate_series(date_trunc('day', mn),
                                date_trunc('day', mx),
                                INTERVAL 1 DAY)) AS bucket
  FROM (SELECT event_type, min(ts) AS mn, max(ts) AS mx
        FROM events GROUP BY 1)),
bins AS (SELECT unnest(range({MOVP_BINS})) AS bin),
dense AS (
  SELECT s.event_type, s.bucket, b.bin, coalesce(c.cnt, 0) AS cnt
  FROM spine s CROSS JOIN bins b
  LEFT JOIN c ON c.event_type = s.event_type AND c.bucket = s.bucket
             AND c.bin = b.bin),
merged AS (
  SELECT *, sum(cnt) OVER (PARTITION BY event_type, bin ORDER BY bucket
             ROWS BETWEEN {MOVP_WINDOW - 1} PRECEDING AND CURRENT ROW)
         AS mcnt
  FROM dense),
cum AS (
  SELECT *, sum(mcnt) OVER (PARTITION BY event_type, bucket
                            ORDER BY bin) AS cum,
         sum(mcnt) OVER (PARTITION BY event_type, bucket
                         ORDER BY bin) - mcnt AS cumb,
         sum(mcnt) OVER (PARTITION BY event_type, bucket) AS n
  FROM merged),
qs(q) AS (VALUES {qvals}),
probe AS (
  SELECT cum.*, qs.q, qs.q * cum.n AS target
  FROM cum CROSS JOIN qs
  WHERE cum.n = 0 OR (cum.cum >= qs.q * cum.n AND cum.mcnt > 0)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type, bucket, q
                               ORDER BY bin) AS rn
  FROM probe)
SELECT event_type, bucket, q,
       CASE WHEN n > 0 THEN round({MOVP_LO} + {w} *
            (bin + CASE WHEN q = 0.0 THEN 0.0
                        ELSE (target - cumb) / mcnt END), 6)
       END AS est
FROM ranked WHERE rn = 1"""


FUZZYDL_Q = "tabel"  # 'table' is ONE transposition away (lev would say 2)


def q_fuzzy_dl_match(spark, sf_dir):
    """ES-default fuzziness (operators/fulltext.fuzzy_terms_dl):
    Damerau-Levenshtein ≤ 1 with adjacent transpositions — 'tabel'
    reaches 'table' in one edit where plain Levenshtein needs two. Exact
    lev∪swap decomposition against the dictionary, then the scan-path
    disjunction count; DuckDB's native damerau_levenshtein oracles the
    expansion."""
    from bertopic_spark.operators.fulltext import (fuzzy_terms_dl,
                                                   term_dictionary,
                                                   term_set_match)

    docs = _docs(spark, sf_dir)
    terms = fuzzy_terms_dl(term_dictionary(docs, "text", "doc_id", MODE),
                           FUZZYDL_Q)
    return term_set_match(docs, terms, "text", "doc_id", MODE)


QL_RANGE = "+table scan n_chars:[150 TO 300}"


def q_search_query_range(spark, sf_dir):
    """Range clauses in the query language (operators/querylang
    ``field:[a TO b]``): Lucene bracket syntax with mixed bounds —
    n_chars ≥ 150 inclusive, < 300 exclusive — applied as a
    parquet-pushdown filter under the gating scan; +table required,
    scan scored."""
    from bertopic_spark.operators.querylang import search_query

    out = search_query(_docs(spark, sf_dir), QL_RANGE, k=10,
                       text_col="text", mode=MODE)
    return out.select("doc_id", _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rn"))


def _sql_search_query_range() -> str:
    return f"""WITH
tkq AS (SELECT doc_id, n_chars, {duckdb_tokens_sql('text', MODE)} AS ts
        FROM documents),
t2 AS (SELECT doc_id, unnest(ts) AS term FROM tkq),
xdoc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         FROM t2 GROUP BY doc_id, term),
{_scores_sql('xdoc', 'doc_id', True, False).lstrip(',').strip()},
pos(term) AS (VALUES ('table'), ('scan')),
cand AS (SELECT doc_id FROM tkq
         WHERE list_contains(ts, 'table')
           AND n_chars >= 150 AND n_chars < 300),
hits AS (SELECT s.doc_id, sum(s.score) AS score
         FROM scores s JOIN pos USING (term) JOIN cand USING (doc_id)
         GROUP BY s.doc_id),
ranked AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC)
                      AS rn FROM hits)
SELECT doc_id, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


MRL_PREFIX, MRL_CANDS = 16, 50


def q_ann_matryoshka_topk(spark, sf_dir):
    """Matryoshka two-stage ANN (operators/similarity.matryoshka_topk):
    coarse cosine over the first 16 dims keeps 50 candidates/query, then
    exact full-dim re-rank — the MRL "shortened embeddings" serving
    pattern; stage 1 reads prefix/dim of the bytes when the prefix is
    its own column."""
    from bertopic_spark.operators.similarity import matryoshka_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return matryoshka_topk(emb, ANN_QUERY_IDS, k=10,
                           prefix_dims=MRL_PREFIX, n_candidates=MRL_CANDS)


def _sql_ann_matryoshka() -> str:
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""WITH {_SQL_COS_CORE},
pnorms AS (SELECT vec_id, sqrt(sum(val * val)) AS nrm FROM v
           WHERE dim < {MRL_PREFIX} GROUP BY vec_id),
pdots AS (
  SELECT q.vec_id AS query_vec_id, d.vec_id AS vec_id,
         sum(q.val * d.val) AS dot
  FROM v q JOIN v d ON q.dim = d.dim
  WHERE q.vec_id IN ({ids}) AND d.vec_id != q.vec_id
    AND q.dim < {MRL_PREFIX}
  GROUP BY q.vec_id, d.vec_id),
coarse AS (
  SELECT query_vec_id, pdots.vec_id AS vec_id,
         dot / (nq.nrm * nd.nrm) AS ccos
  FROM pdots JOIN pnorms nq ON nq.vec_id = query_vec_id
             JOIN pnorms nd ON nd.vec_id = pdots.vec_id),
cand AS (
  SELECT query_vec_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_vec_id
                                 ORDER BY ccos DESC, vec_id ASC) AS r1
    FROM coarse)
  WHERE r1 <= {MRL_CANDS}),
dots AS (
  SELECT c.query_vec_id, c.vec_id, sum(q.val * d.val) AS dot
  FROM cand c JOIN v q ON q.vec_id = c.query_vec_id
       JOIN v d ON d.vec_id = c.vec_id AND d.dim = q.dim
  GROUP BY c.query_vec_id, c.vec_id),
sims AS (
  SELECT query_vec_id, dots.vec_id AS vec_id, dot / (nq.nrm * nd.nrm) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = query_vec_id
            JOIN norms nd ON nd.vec_id = dots.vec_id),
ranked AS (
  SELECT query_vec_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_vec_id
                            ORDER BY cos DESC, vec_id ASC) AS rn
  FROM sims)
SELECT query_vec_id, vec_id, round(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail stratification (operators/textstats.
    perplexity_buckets): equal-count terciles of the corpus by unigram-LM
    perplexity, lowest third = 'head'. Global rank via the range-
    repartition prefix-sum pattern, never a partition-less window."""
    from bertopic_spark.operators.textstats import perplexity_buckets

    out = perplexity_buckets(_docs(spark, sf_dir), "text", "doc_id",
                             MODE, alpha=LM_ALPHA)
    return out.select("doc_id", "n_tokens",
                      _r6(F.col("perplexity")).alias("perplexity"),
                      "bucket_idx", "bucket")


def _sql_perplexity_buckets() -> str:
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
x AS (SELECT doc_id, unnest(ts) AS term FROM tk),
xc AS (SELECT doc_id, term, count(*) AS tf FROM x GROUP BY doc_id, term),
lm AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM xc GROUP BY term),
tot AS (SELECT sum(ctf) AS total, count(*) AS v FROM lm),
lp AS (SELECT term, ln((ctf + {LM_ALPHA}) / (tot.total + {LM_ALPHA} * tot.v))
              AS logp FROM lm CROSS JOIN tot),
dl AS (SELECT doc_id, len(ts) AS n FROM tk WHERE len(ts) > 0),
h AS (SELECT xc.doc_id, -sum(xc.tf * lp.logp) / dl.n AS ce,
             CAST(dl.n AS BIGINT) AS n_tokens
      FROM xc JOIN lp USING (term) JOIN dl ON dl.doc_id = xc.doc_id
      GROUP BY xc.doc_id, dl.n),
ranked AS (SELECT *, row_number() OVER (ORDER BY ce, doc_id) - 1 AS rnk,
                  count(*) OVER () AS nn
           FROM h)
SELECT doc_id, n_tokens, round(exp(ce), 6) AS perplexity,
       CAST(floor(rnk * 3.0 / nn) AS BIGINT) AS bucket_idx,
       CASE CAST(floor(rnk * 3.0 / nn) AS INT)
            WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
       END AS bucket
FROM ranked"""


def q_multi_match_cross_fields(spark, sf_dir):
    """ES multi_match type=cross_fields (operators/bm25.
    multi_match_cross_fields_topk — Lucene BlendedTermQuery): title^2 +
    body with BLENDED per-term document frequency (max over fields) and
    per-TERM best-field combination (tie_breaker=0, the cross_fields
    default) — vs best_fields' per-whole-query dis_max. Same title/body
    split as the best_fields gate."""
    from bertopic_spark.operators.bm25 import multi_match_cross_fields_topk
    from bertopic_spark.tokenizer import tokens_expr

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", F.slice(tokens_expr(F.col("text"), MODE), 1, 5))
        .alias("title"),
        F.col("text").alias("body"))
    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    t = multi_match_cross_fields_topk(
        d, qt, {"title": MM_TITLE_BOOST, "body": 1.0}, k=10,
        tie_breaker=0.0, k1=OKAPI_K1, b=OKAPI_B, mode=MODE)
    return t.select(
        "query_id", "doc_id", _r6(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rn"))


def _sql_multi_match_cross() -> str:
    okapi = (f"bi.idf * x.tf * {OKAPI_K1 + 1.0} / "
             f"(x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} + "
             f"{OKAPI_B} * d.dl / ns.avgdl))")
    return f"""WITH {_TOKS}, {_XDOC},
dlb AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nsb AS (SELECT avg(dl) AS avgdl FROM dlb),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
dfb AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
tt AS (SELECT doc_id,
              unnest(({duckdb_tokens_sql('text', MODE)})[1:5]) AS term
       FROM documents),
xt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tt GROUP BY doc_id, term),
dlt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xt GROUP BY doc_id),
nst AS (SELECT avg(dl) AS avgdl FROM dlt),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xt GROUP BY term),
q(query_id, term) AS (VALUES {_query_term_values()}),
bdf AS (SELECT term, max(df) AS df FROM
        (SELECT * FROM dfb UNION ALL SELECT * FROM dft) GROUP BY term),
bidf AS (SELECT term, ln(1.0 + (nn.n - df + 0.5) / (df + 0.5)) AS idf
         FROM bdf CROSS JOIN nn),
hb AS (SELECT q.query_id, q.term, x.doc_id, 1.0 * {okapi} AS fscore
       FROM q JOIN xdoc x USING (term) JOIN bidf bi USING (term)
            JOIN dlb d ON d.doc_id = x.doc_id CROSS JOIN nsb ns),
ht AS (SELECT q.query_id, q.term, x.doc_id,
              {MM_TITLE_BOOST} * {okapi} AS fscore
       FROM q JOIN xt x USING (term) JOIN bidf bi USING (term)
            JOIN dlt d ON d.doc_id = x.doc_id CROSS JOIN nst ns),
u AS (SELECT * FROM hb UNION ALL SELECT * FROM ht),
pt AS (SELECT query_id, term, doc_id, max(fscore) AS tscore
       FROM u GROUP BY query_id, term, doc_id),
comb AS (SELECT query_id, doc_id, sum(tscore) AS score
         FROM pt GROUP BY query_id, doc_id),
ranked AS (SELECT query_id, doc_id, score,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY round(score, 6) DESC,
                                              doc_id ASC) AS rn
           FROM comb)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


def q_cumulative_cardinality(spark, sf_dir):
    """ES ``cumulative_cardinality`` (operators/sketch.
    cumulative_cardinality): distinct users-to-date per day — HLL
    registers merge by max, so the running union is ONE window max per
    register over a dense bucket spine, never an exact distinct over a
    growing window. Deterministic md5 registers replay in the oracle."""
    from bertopic_spark.operators.sketch import cumulative_cardinality

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cumulative_cardinality(
        ev.select("ts", F.col("user_id").cast("string").alias("uid")),
        "ts", "uid", "day", p=HLL_P, seed=HLL_SEED).select(
        "bucket", _r6(F.col("est")).alias("est"))


def _sql_cumulative_cardinality() -> str:
    m = 1 << HLL_P
    alpha = 0.7213 / (1.0 + 1.079 / m) if m > 64 else {16: 0.673, 32: 0.697,
                                                       64: 0.709}[m]
    rho_max = 60 - HLL_P + 1
    return f"""WITH
e AS (SELECT date_trunc('day', ts) AS bucket,
             CAST(concat('0x', substr(md5('{HLL_SEED}_' ||
                 CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
r AS (SELECT bucket, h % {m} AS idx,
             CASE WHEN CAST(floor(h / {m}) AS BIGINT) > 0
                  THEN {rho_max} - length(bin(CAST(floor(h / {m}) AS BIGINT)))
                  ELSE {rho_max} END AS rho
      FROM e),
per AS (SELECT bucket, idx, max(rho) AS rho FROM r GROUP BY bucket, idx),
spine AS (SELECT unnest(generate_series(date_trunc('day', mn),
                                        date_trunc('day', mx),
                                        INTERVAL 1 DAY)) AS bucket
          FROM (SELECT min(ts) AS mn, max(ts) AS mx FROM events
                WHERE ts IS NOT NULL)),
idxs AS (SELECT DISTINCT idx FROM per),
grid AS (SELECT s.bucket, i.idx FROM spine s CROSS JOIN idxs i),
dense AS (SELECT g.bucket, g.idx, p.rho
          FROM grid g LEFT JOIN per p USING (bucket, idx)),
cum AS (SELECT bucket, idx,
               max(rho) OVER (PARTITION BY idx ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS rho_cum
        FROM dense),
agg AS (SELECT bucket, sum(power(2.0, -rho_cum)) AS s, count(*) AS nz
        FROM cum WHERE rho_cum IS NOT NULL GROUP BY bucket),
est AS (SELECT bucket,
               CASE WHEN ({alpha * m * m}) / (s + ({m} - nz)) <= {2.5 * m}
                         AND {m} - nz > 0
                    THEN {float(m)} * ln({float(m)} / ({m} - nz))
                    ELSE ({alpha * m * m}) / (s + ({m} - nz)) END AS est
        FROM agg)
SELECT sp.bucket, round(coalesce(e.est, 0.0), 6) AS est
FROM spine sp LEFT JOIN est e USING (bucket)"""


def q_categorize_text(spark, sf_dir):
    """ES ``categorize_text`` / Drain-style log templating (operators/
    textstats.categorize_text): events render deterministic log lines
    ('<type> user <id> value <v>' — same construction in both engines,
    the code_tokenize_counts precedent); categories key on (token count,
    first token) and varying positions become '*'. A trillion log lines
    collapse to templates with one explode + one (key, pos) agg."""
    from bertopic_spark.operators.textstats import categorize_text

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    msg = F.concat(F.col("event_type"), F.lit(" user "),
                   F.col("user_id").cast("string"), F.lit(" value "),
                   F.floor(F.col("value")).cast("long").cast("string"))
    return categorize_text(ev.select("event_id", msg.alias("msg")), "msg")


SQL_CATEGORIZE_TEXT = r"""WITH msgs AS (
  SELECT event_id,
         event_type || ' user ' || CAST(user_id AS VARCHAR) ||
         ' value ' || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS msg
  FROM events),
base AS (SELECT event_id, string_split_regex(trim(msg), '\s+') AS tk
         FROM msgs WHERE msg IS NOT NULL AND len(
             string_split_regex(trim(msg), '\s+')) > 0),
keyed AS (SELECT event_id, len(tk) AS n_tokens, tk[1] AS first_tok,
                 unnest(tk) AS tok, unnest(range(len(tk))) AS pos
          FROM base),
per AS (SELECT n_tokens, first_tok, pos, count(DISTINCT tok) AS nd,
               min(tok) AS tok0
        FROM keyed GROUP BY 1, 2, 3),
tmpl AS (SELECT n_tokens, first_tok,
                string_agg(CASE WHEN nd = 1 THEN tok0 ELSE '*' END,
                           ' ' ORDER BY pos) AS template
         FROM per GROUP BY 1, 2),
sizes AS (SELECT len(tk) AS n_tokens, tk[1] AS first_tok,
                 CAST(count(*) AS BIGINT) AS n_docs
          FROM base GROUP BY 1, 2)
SELECT CAST(t.n_tokens AS BIGINT) AS n_tokens, t.first_tok, t.template,
       s.n_docs
FROM tmpl t JOIN sizes s USING (n_tokens, first_tok)"""


SPANM_FIRST, SPANM_PREFIX, SPANM_SLOP = "hash", "s", 5


def q_span_multi_match(spark, sf_dir):
    """ES ``span_multi`` (a multi-term query wrapped as a span clause):
    'hash' followed within slop 5 by ANY dictionary term matching s* —
    the wildcard expands against the term dictionary (bounded), then the
    ordered OR-slot sweep runs in one corpus pass
    (operators/fulltext.span_near_or_match over prefix_terms)."""
    from bertopic_spark.operators.fulltext import (prefix_terms,
                                                   span_near_or_match,
                                                   term_dictionary)

    docs = _docs(spark, sf_dir)
    ex = prefix_terms(term_dictionary(docs, "text", "doc_id", MODE),
                      SPANM_PREFIX)
    return span_near_or_match(docs, [(SPANM_FIRST,), ex], SPANM_SLOP,
                              text_col="text", mode=MODE)


def _sql_span_multi() -> str:
    return f"""WITH
tk AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts FROM documents),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos FROM tk),
ex AS (SELECT DISTINCT term FROM p WHERE term LIKE '{SPANM_PREFIX}%'),
sp AS (SELECT p0.doc_id, p1.pos - p0.pos + 1 AS span
       FROM p p0 JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.pos > p0.pos
       JOIN ex ON ex.term = p1.term
       WHERE p0.term = '{SPANM_FIRST}'),
m AS (SELECT doc_id, CAST(min(span) AS BIGINT) AS min_span
      FROM sp GROUP BY doc_id)
SELECT doc_id, min_span FROM m WHERE min_span <= {2 + SPANM_SLOP}"""


BLOOMJ_PRICE = 150000.0


def q_bloom_semi_join(spark, sf_dir):
    """Bloom-prefiltered semi-join (operators/sketch.bloom_semi_join):
    lineitem rows of high-value orders — a broadcast Bloom over the
    filtered order keys prunes the fact side MAP-SIDE before the exact
    semi-join shuffle (no false negatives, so the answer is exactly the
    semi-join; the sketch changes the plan, not the result). Output is
    the survivor count + revenue sum."""
    from bertopic_spark.operators.sketch import bloom_semi_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keys = (spark.read.parquet(f"{sf_dir}/orders.parquet")
            .filter(F.col("o_totalprice") > BLOOMJ_PRICE)
            .select(F.col("o_orderkey").alias("l_orderkey")))
    out = bloom_semi_join(li, keys, "l_orderkey")
    # decimal sum: order-independent, so a 40k-row sum at 1e9 magnitude
    # matches the oracle exactly (a double sum differs in the last ulp)
    return out.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double").alias("revenue"))


SQL_BLOOM_SEMI = f"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem l
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_orderkey = l.l_orderkey
                AND o.o_totalprice > {BLOOMJ_PRICE})"""


DK_ORIGIN, DK_SCALE, DK_OFFSET, DK_DECAY = 300.0, 100.0, 25.0, 0.5


def q_decay_functions(spark, sf_dir):
    """ES function_score decay functions (operators/bm25.
    decay_score_expr): gauss / exp / linear over n_chars with origin
    300, scale 100, offset 25, decay 0.5 — all three evaluate in ONE
    projection (decay(origin±(offset+scale)) = 0.5 exactly, the ES
    contract, pinned in pytest)."""
    from bertopic_spark.operators.bm25 import decay_score_expr

    d = _docs(spark, sf_dir)
    cols = {k: decay_score_expr("n_chars", DK_ORIGIN, DK_SCALE,
                                DK_OFFSET, DK_DECAY, k)
            for k in ("gauss", "exp", "linear")}
    return d.select("doc_id",
                    _r6(cols["gauss"]).alias("gauss"),
                    _r6(cols["exp"]).alias("exp_"),
                    _r6(cols["linear"]).alias("linear"))


def _sql_decay_functions() -> str:
    import math
    sigma2 = -(DK_SCALE * DK_SCALE) / (2.0 * math.log(DK_DECAY))
    lam = math.log(DK_DECAY) / DK_SCALE
    s = DK_SCALE / (1.0 - DK_DECAY)
    return f"""WITH d AS (
  SELECT doc_id,
         greatest(0.0, abs(CAST(n_chars AS DOUBLE) - {DK_ORIGIN})
                  - {DK_OFFSET}) AS dist
  FROM documents)
SELECT doc_id,
       round(exp(-(dist * dist) / {2.0 * sigma2}), 6) AS gauss,
       round(exp(dist * {lam}), 6) AS exp_,
       round(greatest(0.0, ({s} - dist) / {s}), 6) AS linear
FROM d"""


INNER_SIZE = 3


def q_collapse_inner_hits(spark, sf_dir):
    """ES collapse + inner_hits (operators/bm25.collapse_inner_hits):
    each collapsed winner carries its lang-group's top-3 members ("more
    from this group") — the group window already ranks every member, so
    inner hits cost no second scoring pass."""
    from bertopic_spark.operators.bm25 import (bm25_topk_adhoc,
                                               collapse_inner_hits)

    docs = _docs(spark, sf_dir)
    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    hits = bm25_topk_adhoc(docs, qt, k=1 << 30, text_col="text",
                           mode=MODE).drop("rank")
    out = collapse_inner_hits(hits, docs.select("doc_id", "lang"), "lang",
                              per_key=COLLAPSE_PER_KEY, k=COLLAPSE_K,
                              inner_size=INNER_SIZE)
    return out.select("query_id", "winner_id", "lang",
                      _r6(F.col("winner_score")).alias("winner_score"),
                      F.col("rank").cast("long").alias("rank"),
                      "inner_id", _r6(F.col("inner_score")).alias("inner_score"),
                      F.col("inner_rank").cast("long").alias("inner_rank"))


SQL_COLLAPSE_INNER = f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM q JOIN scores s USING (term) GROUP BY q.query_id, s.doc_id),
j AS (SELECT h.query_id, h.doc_id, h.score, d.lang
      FROM hits h JOIN documents d USING (doc_id)),
keyed AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, lang
                               ORDER BY score DESC, doc_id ASC) AS kr
  FROM j),
winners AS (
  SELECT query_id, doc_id AS winner_id, lang, score AS winner_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM keyed WHERE kr <= {COLLAPSE_PER_KEY}),
inner7 AS (
  SELECT query_id, lang, doc_id AS inner_id, score AS inner_score,
         kr AS inner_rank
  FROM keyed WHERE kr <= {INNER_SIZE})
SELECT w.query_id, w.winner_id, w.lang,
       round(w.winner_score, 6) AS winner_score,
       CAST(w.rank AS BIGINT) AS rank, i.inner_id,
       round(i.inner_score, 6) AS inner_score,
       CAST(i.inner_rank AS BIGINT) AS inner_rank
FROM winners w JOIN inner7 i USING (query_id, lang)
WHERE w.rank <= {COLLAPSE_K}"""


MMRD_K, MMRD_LAMBDA, MMRD_CANDS = 5, 0.4, 12


def q_mmr_diversify_ann(spark, sf_dir):
    """Vector search-result diversification (operators/similarity.
    mmr_diversify): greedy MMR over the brute-cosine top-12 candidates
    per query — (1−λ)·rel − λ·max-cos-to-selected, λ=0.4. The per-query
    loop runs as applyInPandas over the tiny candidate group; 6dp
    rounding before every argmax keeps the greedy path engine-stable."""
    from bertopic_spark.operators.similarity import (cosine_topk,
                                                     mmr_diversify)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cands = cosine_topk(emb, ANN_QUERY_IDS, k=MMRD_CANDS).drop("rn")
    out = mmr_diversify(emb, cands, k=MMRD_K, diversity=MMRD_LAMBDA)
    return out.select("query_vec_id", "vec_id",
                      _r6(F.col("cos")).alias("cos"),
                      F.col("mmr_rank").cast("long").alias("mmr_rank"))


def _sql_mmr_diversify() -> str:
    # cand/psims are MATERIALIZED and psims reads only the candidates'
    # vectors (cv): inlined into every sel{i}, the pairwise sims were
    # recomputed per step over the whole table and ran out of memory.
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    w_rel, w_div = repr(1.0 - MMRD_LAMBDA), repr(MMRD_LAMBDA)
    parts = [f"""WITH {_SQL_COS_CORE},
dots AS (
  SELECT q.vec_id AS query_vec_id, d.vec_id AS vec_id,
         sum(q.val * d.val) AS dot
  FROM v q JOIN v d ON q.dim = d.dim
  WHERE q.vec_id IN ({ids}) AND d.vec_id != q.vec_id
  GROUP BY q.vec_id, d.vec_id),
cand AS MATERIALIZED (
  SELECT query_vec_id, vec_id, cos FROM (
    SELECT query_vec_id, dots.vec_id AS vec_id,
           round(dot / (nq.nrm * nd.nrm), 6) AS cos,
           row_number() OVER (PARTITION BY query_vec_id
               ORDER BY dot / (nq.nrm * nd.nrm) DESC, dots.vec_id ASC) AS rn
    FROM dots JOIN norms nq ON nq.vec_id = query_vec_id
              JOIN norms nd ON nd.vec_id = dots.vec_id)
  WHERE rn <= {MMRD_CANDS}),
cv AS MATERIALIZED (
  SELECT v.vec_id, v.dim, v.val, n.nrm FROM v JOIN norms n USING (vec_id)
  WHERE vec_id IN (SELECT vec_id FROM cand)),
psims AS MATERIALIZED (
  SELECT a.query_vec_id, a.vec_id AS ia, b.vec_id AS ib,
         round(sum(va.val * vb.val) / (va.nrm * vb.nrm), 6) AS sim
  FROM cand a JOIN cand b ON b.query_vec_id = a.query_vec_id
       AND b.vec_id != a.vec_id
  JOIN cv va ON va.vec_id = a.vec_id
  JOIN cv vb ON vb.vec_id = b.vec_id AND vb.dim = va.dim
  GROUP BY a.query_vec_id, a.vec_id, b.vec_id, va.nrm, vb.nrm),
sel1 AS (
  SELECT query_vec_id, vec_id, 1 AS mmr_rank FROM (
    SELECT query_vec_id, vec_id,
           row_number() OVER (PARTITION BY query_vec_id
               ORDER BY CAST({w_rel} AS DOUBLE) * cos DESC, vec_id ASC) AS rn
    FROM cand) WHERE rn = 1)"""]
    for i in range(2, MMRD_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_vec_id, vec_id FROM sel{j}" for j in range(1, i))
        parts.append(f""",
selu{i - 1} AS ({prev}),
msi{i} AS (
  SELECT s.query_vec_id, s.ia AS vec_id, max(s.sim) AS msim
  FROM psims s JOIN selu{i - 1} p
       ON p.query_vec_id = s.query_vec_id AND p.vec_id = s.ib
  GROUP BY s.query_vec_id, s.ia),
sel{i} AS (
  SELECT query_vec_id, vec_id, {i} AS mmr_rank FROM (
    SELECT c.query_vec_id, c.vec_id,
           row_number() OVER (PARTITION BY c.query_vec_id
               ORDER BY CAST({w_rel} AS DOUBLE) * c.cos
                        - CAST({w_div} AS DOUBLE) * m.msim DESC,
                        c.vec_id ASC) AS rn
    FROM cand c
    JOIN msi{i} m ON m.query_vec_id = c.query_vec_id
         AND m.vec_id = c.vec_id
    WHERE NOT EXISTS (SELECT 1 FROM selu{i - 1} p
                      WHERE p.query_vec_id = c.query_vec_id
                        AND p.vec_id = c.vec_id)) WHERE rn = 1)""")
    allsel = " UNION ALL ".join(
        f"SELECT * FROM sel{j}" for j in range(1, MMRD_K + 1))
    parts.append(f"""
SELECT s.query_vec_id, s.vec_id, c.cos,
       CAST(s.mmr_rank AS BIGINT) AS mmr_rank
FROM ({allsel}) s JOIN cand c USING (query_vec_id, vec_id)""")
    return "".join(parts)


PERC_PHRASES = ((1, "join order"), (5, "merge sort"))


def q_percolate_phrases(spark, sf_dir):
    """Percolator with phrase criteria (operators/fulltext.
    percolate_phrases): standing queries 1 and 5 additionally require an
    exact phrase ('join order' / 'merge sort') on top of 50% term
    coverage — every phrase evaluates in ONE document pass, registry
    still broadcast."""
    from bertopic_spark.operators.fulltext import percolate_phrases

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    ph = spark.createDataFrame(list(PERC_PHRASES),
                               "query_id long, phrase string")
    return percolate_phrases(_docs(spark, sf_dir), qt, ph,
                             text_col="text", min_should_match=0.5,
                             mode=MODE)


def _sql_percolate_phrases() -> str:
    vals = ", ".join(
        "({}, '{}', '{}')".format(q, *p.split()) for q, p in PERC_PHRASES)
    qids = ", ".join(str(q) for q, _ in PERC_PHRASES)
    return f"""WITH {_TOKS},
dt AS (SELECT DISTINCT doc_id, term FROM toks),
q(query_id, term) AS (VALUES {_query_term_values()}),
qn AS (SELECT query_id, CAST(count(DISTINCT term) AS BIGINT) AS n_q
       FROM q GROUP BY query_id),
hits AS (
  SELECT dt.doc_id, q.query_id, CAST(count(*) AS BIGINT) AS n_matched
  FROM dt JOIN q USING (term) GROUP BY dt.doc_id, q.query_id),
base AS (
  SELECT h.doc_id, h.query_id, h.n_matched, qn.n_q,
         round(CAST(h.n_matched AS DOUBLE) / qn.n_q, 6) AS coverage
  FROM hits h JOIN qn USING (query_id)
  WHERE h.n_matched >= ceil(0.5 * qn.n_q)),
tkp AS (SELECT doc_id, {duckdb_tokens_sql('text', MODE)} AS ts
        FROM documents),
p AS (SELECT doc_id, unnest(ts) AS term, unnest(range(len(ts))) AS pos
      FROM tkp),
ph(query_id, w1, w2) AS (VALUES {vals}),
met AS (SELECT DISTINCT p0.doc_id, ph.query_id
        FROM ph JOIN p p0 ON p0.term = ph.w1
        JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
             AND p1.term = ph.w2)
SELECT b.* FROM base b
WHERE b.query_id NOT IN ({qids})
   OR EXISTS (SELECT 1 FROM met m
              WHERE m.doc_id = b.doc_id AND m.query_id = b.query_id)"""


def q_rank_eval_err(spark, sf_dir):
    """ERR@10 (Chapelle et al. 2009 cascade metric, operators/bm25.
    rank_eval err_at_k): the probability-weighted reciprocal rank where
    each relevant hit 'absorbs' later ones — the metric behind
    click-model evaluation. Same deterministic graded judgments as
    rank_eval_bm25; the cascade product is exp(cumsum(ln(1−R))), the
    exact expression the oracle evaluates."""
    from bertopic_spark.operators.bm25 import bm25_topk_adhoc, rank_eval

    qt = query_terms(queries_df(spark, DRIVER_QUERIES), MODE)
    hits = bm25_topk_adhoc(_docs(spark, sf_dir), qt, k=10,
                           text_col="text", mode=MODE)
    judg = (_doc_x(spark, sf_dir).join(F.broadcast(qt), "term")
            .groupBy("query_id", "doc_id")
            .agg(F.count_distinct("term").alias("grade"))
            .filter(F.col("grade") >= 2)
            .withColumn("grade", F.col("grade").cast("double")))
    out = rank_eval(hits, judg, k=10)
    return out.select("query_id", _r6(F.col("err_at_k")).alias("err_at_k"))


SQL_RANK_EVAL_ERR = f"""WITH {_TOKS}, {_XDOC}, {_scores_sql('xdoc', 'doc_id', True, False)},
q(query_id, term) AS (VALUES {_query_term_values()}),
hits AS (
  SELECT q.query_id, s.doc_id, sum(s.score) AS score
  FROM q JOIN scores s USING (term) GROUP BY q.query_id, s.doc_id),
win AS (
  SELECT query_id, doc_id, rnk FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS rnk
    FROM hits) WHERE rnk <= 10),
judg AS (
  SELECT q.query_id, x.doc_id, CAST(count(DISTINCT q.term) AS DOUBLE) AS grade
  FROM q JOIN xdoc x USING (term)
  GROUP BY q.query_id, x.doc_id HAVING count(DISTINCT q.term) >= 2),
graded AS (
  SELECT w.query_id, w.rnk,
         (pow(2.0, coalesce(j.grade, 0.0)) - 1.0) / {2.0 ** 4} AS r
  FROM win w LEFT JOIN judg j
    ON w.query_id = j.query_id AND w.doc_id = j.doc_id),
casc AS (
  SELECT query_id, rnk, r,
         exp(coalesce(sum(ln(1.0 - r)) OVER (PARTITION BY query_id
             ORDER BY rnk ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0.0)) AS prod
  FROM graded)
SELECT CAST(query_id AS BIGINT) AS query_id,
       round(sum(r / rnk * prod), 6) AS err_at_k
FROM casc GROUP BY query_id"""


def q_seasonal_anomaly(spark, sf_dir):
    """Seasonal-baseline anomaly scores (operators/rollup.
    seasonal_anomalies): every hourly bucket z-scored against its
    series' same-hour-of-day mean/stddev — alerting on periodic traffic.
    Scores, not a thresholded set, so the relation is ulp-stable."""
    from bertopic_spark.operators.rollup import seasonal_anomalies

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return seasonal_anomalies(ev, "ts", keys=("event_type",)).select(
        "event_type", "bucket", "n", F.col("hod").cast("long").alias("hod"),
        "z")


SQL_SEASONAL_ANOM = """WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
b2 AS (SELECT *, CAST(extract(hour FROM bucket) AS BIGINT) AS hod FROM b),
mom AS (SELECT event_type, hod, avg(n) AS mu,
               stddev_samp(CAST(n AS DOUBLE)) AS sd
        FROM b2 GROUP BY 1, 2)
SELECT b2.event_type, b2.bucket, b2.n, b2.hod,
       round(CASE WHEN coalesce(sd, 0) > 0 THEN (n - mu) / sd
                  ELSE 0.0 END, 6) AS z
FROM b2 JOIN mom USING (event_type, hod)"""


EWMA_ALPHA = 0.3


def q_ewma_daily(spark, sf_dir):
    """ES moving_fn ewma (operators/rollup.ewma_smooth): exponentially
    weighted daily event counts per type — the recursion evaluated in
    closed form (rank window + triangular self-join over the BUCKET
    relation), so nothing is sequential."""
    from bertopic_spark.operators.rollup import ewma_smooth

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = (ev.groupBy("event_type", F.date_trunc("day", F.col("ts"))
                    .alias("d"))
         .agg(F.count(F.lit(1)).cast("long").alias("n")))
    return ewma_smooth(b, "d", "n", alpha=EWMA_ALPHA,
                       keys=("event_type",))


SQL_EWMA_DAILY = f"""WITH b AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY d) AS rr FROM b),
pairs AS (
  SELECT a.event_type, a.d, CAST(a.n AS DOUBLE) AS value,
         CAST(bb.n AS DOUBLE) AS yb, a.rr AS ra, bb.rr AS rb
  FROM r a JOIN r bb ON bb.event_type = a.event_type AND bb.rr <= a.rr)
SELECT event_type, d, value,
       round(sum(yb * CASE WHEN rb = 1
                 THEN power({1.0 - EWMA_ALPHA}, ra - 1)
                 ELSE {EWMA_ALPHA} * power({1.0 - EWMA_ALPHA}, ra - rb)
            END), 6) AS ewma
FROM pairs GROUP BY event_type, d, value"""


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix (operators/rollup.cohort_retention):
    users bucketed by first-seen day, distinct-counted at each later
    day offset — integer counts, exact cross-engine."""
    from bertopic_spark.operators.rollup import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cohort_retention(ev, "ts", "user_id", "day")


SQL_COHORT_RETENTION = """WITH ev AS (
  SELECT user_id AS u, date_trunc('day', ts) AS b
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
frst AS (SELECT u, min(b) AS cohort FROM ev GROUP BY u)
SELECT f.cohort,
       CAST((epoch(e.b) - epoch(f.cohort)) / 86400 AS BIGINT)
         AS bucket_offset,
       CAST(count(DISTINCT e.u) AS BIGINT) AS n_users
FROM ev e JOIN frst f USING (u) GROUP BY 1, 2"""


FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW_US = 7 * 86400 * 1_000_000


def q_funnel_conversion(spark, sf_dir):
    """Ordered funnel (operators/temporal.funnel_conversion): view →
    click → purchase per user, greedy first-touch within a 7-day window
    of the anchor — (step_idx, step, n_users), non-increasing. One
    user-key shuffle; the chain evaluates in array HOFs."""
    from bertopic_spark.operators.temporal import funnel_conversion

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_conversion(ev, FUNNEL_STEPS,
                             window_us=FUNNEL_WINDOW_US)


def _sql_funnel() -> str:
    s0, s1, s2 = FUNNEL_STEPS
    return f"""WITH ev AS (
  SELECT user_id AS u, event_type AS s, epoch_us(ts) AS t
  FROM events
  WHERE user_id IS NOT NULL AND event_type IN ('{s0}', '{s1}', '{s2}')),
t0 AS (SELECT u, min(t) AS t0 FROM ev WHERE s = '{s0}' GROUP BY u),
t1 AS (SELECT e.u, min(e.t) AS t1
       FROM ev e JOIN t0 ON t0.u = e.u
       WHERE e.s = '{s1}' AND e.t > t0.t0
         AND e.t - t0.t0 <= {FUNNEL_WINDOW_US}
       GROUP BY e.u),
t2 AS (SELECT e.u, min(e.t) AS t2
       FROM ev e JOIN t1 ON t1.u = e.u JOIN t0 ON t0.u = e.u
       WHERE e.s = '{s2}' AND e.t > t1.t1
         AND e.t - t0.t0 <= {FUNNEL_WINDOW_US}
       GROUP BY e.u)
SELECT CAST(1 AS BIGINT) AS step_idx, '{s0}' AS step,
       CAST((SELECT count(*) FROM t0) AS BIGINT) AS n_users
UNION ALL
SELECT 2, '{s1}', CAST((SELECT count(*) FROM t1) AS BIGINT)
UNION ALL
SELECT 3, '{s2}', CAST((SELECT count(*) FROM t2) AS BIGINT)"""


WAU_WINDOW = 7


def q_rolling_cardinality(spark, sf_dir):
    """7-day rolling distinct users (WAU) from daily HLL sketches
    (operators/sketch.rolling_cardinality): the trailing union is a
    windowed per-register MAX over the dense spine — a window-spec
    change away from MAU, never an exact distinct over a sliding
    window."""
    from bertopic_spark.operators.sketch import rolling_cardinality

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rolling_cardinality(
        ev.select("ts", F.col("user_id").cast("string").alias("uid")),
        "ts", "uid", "day", window=WAU_WINDOW, p=HLL_P,
        seed=HLL_SEED).select("bucket", _r6(F.col("est")).alias("est"))


def _sql_rolling_cardinality() -> str:
    m = 1 << HLL_P
    alpha = 0.7213 / (1.0 + 1.079 / m) if m > 64 else {16: 0.673, 32: 0.697,
                                                       64: 0.709}[m]
    rho_max = 60 - HLL_P + 1
    return f"""WITH
e AS (SELECT date_trunc('day', ts) AS bucket,
             CAST(concat('0x', substr(md5('{HLL_SEED}_' ||
                 CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
r AS (SELECT bucket, h % {m} AS idx,
             CASE WHEN CAST(floor(h / {m}) AS BIGINT) > 0
                  THEN {rho_max} - length(bin(CAST(floor(h / {m}) AS BIGINT)))
                  ELSE {rho_max} END AS rho
      FROM e),
per AS (SELECT bucket, idx, max(rho) AS rho FROM r GROUP BY bucket, idx),
spine AS (SELECT unnest(generate_series(date_trunc('day', mn),
                                        date_trunc('day', mx),
                                        INTERVAL 1 DAY)) AS bucket
          FROM (SELECT min(ts) AS mn, max(ts) AS mx FROM events
                WHERE ts IS NOT NULL)),
idxs AS (SELECT DISTINCT idx FROM per),
grid AS (SELECT s.bucket, i.idx FROM spine s CROSS JOIN idxs i),
dense AS (SELECT g.bucket, g.idx, p.rho
          FROM grid g LEFT JOIN per p USING (bucket, idx)),
cum AS (SELECT bucket, idx,
               max(rho) OVER (PARTITION BY idx ORDER BY bucket
                   ROWS BETWEEN {WAU_WINDOW - 1} PRECEDING AND CURRENT ROW)
               AS rho_w
        FROM dense),
agg AS (SELECT bucket, sum(power(2.0, -rho_w)) AS s, count(*) AS nz
        FROM cum WHERE rho_w IS NOT NULL GROUP BY bucket),
est AS (SELECT bucket,
               CASE WHEN ({alpha * m * m}) / (s + ({m} - nz)) <= {2.5 * m}
                         AND {m} - nz > 0
                    THEN {float(m)} * ln({float(m)} / ({m} - nz))
                    ELSE ({alpha * m * m}) / (s + ({m} - nz)) END AS est
        FROM agg)
SELECT sp.bucket, round(coalesce(e.est, 0.0), 6) AS est
FROM spine sp LEFT JOIN est e USING (bucket)"""


def q_path_hierarchy(spark, sf_dir):
    """ES path_hierarchy tokenizer + directory rollup (operators/
    codestruct.path_hierarchy_terms): deterministic pseudo-paths
    lang/source/f<doc_id> emit every ancestor prefix; the rollup counts
    files per directory — tree-sized, not file-sized."""
    from bertopic_spark.operators.codestruct import path_hierarchy_terms

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws("/", F.col("lang"), F.col("source"),
                    F.concat(F.lit("f"), F.col("doc_id").cast("string")))
        .alias("path"))
    t = path_hierarchy_terms(d, "path")
    return (t.groupBy("prefix", "depth")
            .agg(F.count(F.lit(1)).cast("long").alias("n_files")))


SQL_PATH_HIERARCHY = """WITH d AS (
  SELECT doc_id,
         lang || '/' || source || '/f' || CAST(doc_id AS VARCHAR) AS path
  FROM documents),
parts AS (SELECT doc_id, string_split(path, '/') AS ps FROM d),
pref AS (
  SELECT doc_id,
         array_to_string(ps[1:CAST(depth AS INT)], '/') AS prefix,
         CAST(depth AS BIGINT) AS depth
  FROM parts, unnest(range(1, len(ps) + 1)) AS u(depth))
SELECT prefix, depth, CAST(count(*) AS BIGINT) AS n_files
FROM pref GROUP BY prefix, depth"""


def q_cuped_reduction(spark, sf_dir):
    """CUPED variance reduction (operators/evaluation.cuped_adjustment,
    Deng et al. 2013): per-user pre metric (view-value sum) against post
    metric (purchase-value sum); one algebraic moment pass yields theta
    and the variance-reduction factor."""
    from bertopic_spark.operators.evaluation import cuped_adjustment

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("event_type") == "view",
                                F.col("value"))), F.lit(0.0)).alias("pre"),
        F.coalesce(F.sum(F.when(F.col("event_type") == "purchase",
                                F.col("value"))), F.lit(0.0)).alias("post"))
    return cuped_adjustment(per, "user_id", "pre", "post")


SQL_CUPED = """WITH per AS (
  SELECT user_id,
         coalesce(sum(CASE WHEN event_type = 'view' THEN value END), 0.0)
           AS pre,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END),
                  0.0) AS post
  FROM events GROUP BY user_id),
mom AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(pre) AS sx, sum(post) AS sy,
         sum(pre * pre) AS sxx, sum(post * post) AS syy,
         sum(pre * post) AS sxy
  FROM per),
c AS (
  SELECT sxx / n - (sx / n) * (sx / n) AS var_x,
         syy / n - (sy / n) * (sy / n) AS var_y,
         sxy / n - sx * sy / (n * n) AS cov
  FROM mom)
SELECT round(CASE WHEN var_x > 0 THEN cov / var_x ELSE 0.0 END, 6) AS theta,
       round(var_y, 6) AS var_y,
       round(var_y - CASE WHEN var_x > 0 THEN cov * cov / var_x
                          ELSE 0.0 END, 6) AS var_adj,
       round(CASE WHEN var_y > 0
                  THEN 1.0 - (var_y - CASE WHEN var_x > 0
                                           THEN cov * cov / var_x
                                           ELSE 0.0 END) / var_y
                  ELSE 0.0 END, 6) AS reduction
FROM c"""


def _q_sig_heuristic(scoring):
    def q(spark, sf_dir):
        from bertopic_spark.operators.fulltext import significant_terms
        from bertopic_spark.tokenizer import with_tokens

        toks = with_tokens(_docs(spark, sf_dir), "text", MODE)
        dt = toks.select(
            "doc_id", (F.col("lang") == "en").alias("fg"),
            F.explode(F.array_distinct("tokens")).alias("term"))
        t = significant_terms(dt, k=15, scoring=scoring)
        return t.select(
            "term", "df_fg", "df_all", _r6(F.col("score")).alias("score"),
            F.col("rank").cast("long").alias("rn"))
    q.__doc__ = (f"significant_terms with ES's {scoring} heuristic "
                 "(operators/fulltext.significant_terms): the classical "
                 "2x2-contingency statistic over the same single "
                 "conditional-agg pass; positive-signal filtered.")
    return q


def _sql_sig_heuristic(scoring: str) -> str:
    if scoring == "chi_square":
        score = """CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) > 0
              THEN n_all * ((a * d - b * c) * (a * d - b * c))
                   / ((a + b) * (c + d) * (a + c) * (b + d))
              ELSE 0.0 END"""
    else:
        score = """  CASE WHEN a > 0 THEN (a/n_all) * log2((a/n_all) /
                   (((a+b)/n_all) * ((a+c)/n_all))) ELSE 0.0 END
+ CASE WHEN b > 0 THEN (b/n_all) * log2((b/n_all) /
                   (((a+b)/n_all) * ((b+d)/n_all))) ELSE 0.0 END
+ CASE WHEN c > 0 THEN (c/n_all) * log2((c/n_all) /
                   (((c+d)/n_all) * ((a+c)/n_all))) ELSE 0.0 END
+ CASE WHEN d > 0 THEN (d/n_all) * log2((d/n_all) /
                   (((c+d)/n_all) * ((b+d)/n_all))) ELSE 0.0 END"""
    return f"""WITH {_TOKS},
dt AS (SELECT DISTINCT doc_id, lang = 'en' AS fg, term FROM toks),
tot AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_all,
               CAST(count(DISTINCT CASE WHEN fg THEN doc_id END)
                    AS DOUBLE) AS n_fg FROM dt),
per AS (SELECT term,
               CAST(count(DISTINCT CASE WHEN fg THEN doc_id END) AS BIGINT) AS df_fg,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df_all
        FROM dt GROUP BY term),
cells AS (SELECT term, df_fg, df_all, n_all, n_fg,
                 CAST(df_fg AS DOUBLE) AS a,
                 n_fg - df_fg AS b,
                 CAST(df_all - df_fg AS DOUBLE) AS c,
                 n_all - n_fg - (df_all - df_fg) AS d
          FROM per CROSS JOIN tot
          WHERE df_fg > 0 AND (df_fg / n_fg) > (df_all / n_all)),
sc AS (SELECT term, df_fg, df_all, ({score}) AS score FROM cells),
ranked AS (SELECT term, df_fg, df_all, score,
                  row_number() OVER (ORDER BY score DESC, term ASC) AS rn
           FROM sc)
SELECT term, df_fg, df_all, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 15"""


NH_INTERVAL, NH_OFFSET = 25.0, 5.0


def q_numeric_histogram(spark, sf_dir):
    """ES numeric ``histogram`` agg (operators/rollup.numeric_histogram):
    interval-25 buckets offset by 5 over event values with
    min_doc_count=0 — the dense spine surfaces empty buckets between the
    observed extremes (spine-sized, never data-sized)."""
    from bertopic_spark.operators.rollup import numeric_histogram

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return numeric_histogram(ev, "value", NH_INTERVAL, NH_OFFSET,
                             min_doc_count=0)


SQL_NUMERIC_HISTOGRAM = f"""WITH agg AS (
  SELECT CAST(floor((value - {NH_OFFSET}) / {NH_INTERVAL}) AS BIGINT) AS idx,
         CAST(count(*) AS BIGINT) AS n_docs,
         round(sum(value), 6) AS sum_value
  FROM events WHERE value IS NOT NULL GROUP BY 1),
b AS (SELECT min(idx) AS mn, max(idx) AS mx FROM agg),
spine AS (
  SELECT mn + i AS idx
  FROM b, unnest(range(0, mx - mn + 1)) AS u(i))
SELECT CAST(s.idx AS DOUBLE) * {NH_INTERVAL} + {NH_OFFSET} AS key,
       coalesce(a.n_docs, 0) AS n_docs,
       coalesce(a.sum_value, 0.0) AS sum_value
FROM spine s LEFT JOIN agg a USING (idx)"""


CTR_MOD = 5000


def q_counter_rate(spark, sf_dir):
    """Prometheus-style rate() with reset detection (operators/temporal.
    counter_rate): a synthetic per-type monotonic counter (running value
    sum mod 5000 — deterministic resets when it wraps) differenced per
    hourly bucket; negative deltas mean the counter restarted and count
    as the new value. One lag window over the bucket relation."""
    from bertopic_spark.operators.temporal import counter_rate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # integer cents keep the synthetic counter bit-identical across
    # engines (a double cumsum floors differently at ulp boundaries)
    b = (ev.groupBy("event_type",
                    F.date_trunc("hour", F.col("ts")).alias("h"))
         .agg(F.sum(F.round(F.col("value") * 100).cast("long"))
              .alias("sv")))
    w = Window.partitionBy("event_type").orderBy("h")
    ctr = (F.sum("sv").over(w) % CTR_MOD).cast("double")
    return counter_rate(b.withColumn("ctr", ctr), "h", "ctr", 3600.0,
                        keys=("event_type",)).select(
        "event_type", "h", F.col("value").alias("ctr"),
        "increase", "rate")


SQL_COUNTER_RATE = f"""WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv
  FROM events GROUP BY 1, 2),
c AS (SELECT event_type, h,
             CAST(CAST(floor(sum(sv) OVER (PARTITION BY event_type
                 ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW)) AS BIGINT) % {CTR_MOD} AS DOUBLE) AS ctr
      FROM b),
d AS (SELECT event_type, h, ctr,
             lag(ctr) OVER (PARTITION BY event_type ORDER BY h) AS prev
      FROM c)
SELECT event_type, h, ctr,
       round(CASE WHEN prev IS NULL THEN NULL
                  WHEN ctr >= prev THEN ctr - prev
                  ELSE ctr END, 6) AS increase,
       round(CASE WHEN prev IS NULL THEN NULL
                  WHEN ctr >= prev THEN ctr - prev
                  ELSE ctr END / 3600.0, 6) AS rate
FROM d"""


IVJ_A, IVJ_B = "click", "purchase"


def q_interval_overlap(spark, sf_dir):
    """Interval overlap join (operators/temporal.interval_overlap_join):
    click and purchase events become [ts, ts + value·1s) intervals;
    pairs that intersect are found by fixed-width bucket spreading +
    equi-join (never a cross join) with the exact overlap predicate and
    a groupBy dedup — (a_id, b_id, overlap_us)."""
    from bertopic_spark.operators.temporal import interval_overlap_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def iv(t, idc):
        # floor, not cast: DuckDB CAST(double AS BIGINT) rounds while
        # Spark's cast truncates — floor agrees everywhere
        dur = F.floor(F.col("value") * 1e6).cast("long")
        return (ev.filter(F.col("event_type") == t)
                .select(F.col("event_id").alias(idc),
                        F.col("ts").alias("start"),
                        F.timestamp_micros(
                            F.unix_micros(F.col("ts").cast("timestamp"))
                            + dur).alias("end")))
    return interval_overlap_join(iv(IVJ_A, "a_id"), iv(IVJ_B, "b_id"),
                                 "a_id", "b_id", bucket_seconds=600)


SQL_INTERVAL_OVERLAP = f"""WITH
a AS (SELECT event_id AS a_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT) AS e
      FROM events WHERE event_type = '{IVJ_A}'),
b AS (SELECT event_id AS b_id, epoch_us(ts) AS s2,
             epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT) AS e2
      FROM events WHERE event_type = '{IVJ_B}')
SELECT a.a_id, b.b_id,
       CAST(least(a.e, b.e2) - greatest(a.s, b.s2) AS BIGINT) AS overlap_us
FROM a JOIN b ON a.s < b.e2 AND b.s2 < a.e
WHERE a.e > a.s AND b.e2 > b.s2"""


WRRF_W_TEXT, WRRF_W_DENSE = 2.0, 0.5


def q_hybrid_weighted_rrf(spark, sf_dir):
    """Weighted RRF (operators/bm25.weighted_rrf_fuse — the OpenSearch/
    Vespa hybrid knob): the lexical leg trusted 2.0, the dense leg 0.5 —
    per-retriever multipliers on the reciprocal-rank contributions,
    still no score calibration. Same legs as hybrid_rrf."""
    from bertopic_spark.operators.bm25 import (bm25_topk_adhoc, queries_df,
                                               query_terms,
                                               weighted_rrf_fuse)
    from bertopic_spark.operators.similarity import cosine_topk

    qs = {q: DRIVER_QUERIES[q] for q in HYBRID_QIDS}
    qt = query_terms(queries_df(spark, qs), MODE)
    leg_text = (bm25_topk_adhoc(_docs(spark, sf_dir), qt, k=HYBRID_K,
                                text_col="text", id_col="doc_id", mode=MODE)
                .select("query_id", "doc_id", "rank"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    leg_dense = (cosine_topk(emb, list(HYBRID_QIDS), k=HYBRID_K)
                 .select(F.col("query_vec_id").alias("query_id"),
                         F.col("vec_id").alias("doc_id"),
                         F.col("rn").alias("rank")))
    out = weighted_rrf_fuse([leg_text, leg_dense],
                            [WRRF_W_TEXT, WRRF_W_DENSE],
                            k0=HYBRID_K0, k=HYBRID_K)
    return out.select("query_id", "doc_id",
                      _r6(F.col("score")).alias("score"),
                      F.col("rank").cast("long").alias("rn"))


def _sql_hybrid_weighted_rrf() -> str:
    base = _sql_hybrid_rrf()
    return base.replace(
        f"SELECT query_id, doc_id, rn FROM branked WHERE rn <= {HYBRID_K}\n"
        "  UNION ALL\n"
        f"  SELECT query_id, doc_id, rn FROM cranked WHERE rn <= {HYBRID_K}",
        f"SELECT query_id, doc_id, rn, {WRRF_W_TEXT} AS w FROM branked "
        f"WHERE rn <= {HYBRID_K}\n"
        "  UNION ALL\n"
        f"  SELECT query_id, doc_id, rn, {WRRF_W_DENSE} AS w FROM cranked "
        f"WHERE rn <= {HYBRID_K}"
    ).replace(
        f"sum(1.0 / ({HYBRID_K0} + rn)) AS score",
        f"sum(w / ({HYBRID_K0} + rn)) AS score")


HQ_LES = [10.0, 25.0, 50.0, 100.0, 250.0]
HQ_Q = 0.9


def q_prom_histogram_quantile(spark, sf_dir):
    """PromQL histogram_quantile (operators/temporal.histogram_quantile):
    per event_type, classic le-bucketed cumulative counts (le = 10, 25,
    50, 100, 250, +Inf over event values) interpolated at q=0.9 — the
    TSDB latency-SLO primitive. The bucket build is the one data pass;
    the quantile itself is a window over |series|·|buckets| rows."""
    from bertopic_spark.operators.temporal import histogram_quantile

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    les = F.array(*[F.lit(x) for x in [*HQ_LES, float("inf")]])
    b = (ev.where(F.col("value").isNotNull())
         .select("event_type", F.explode(les).alias("le"), "value")
         .groupBy("event_type", "le")
         .agg(F.sum(F.when(F.col("value") <= F.col("le"), 1).otherwise(0))
              .alias("count")))
    return histogram_quantile(b, HQ_Q, keys=("event_type",))


_HQ_LE_VALUES = ", ".join(f"({x})" for x in HQ_LES)
SQL_PROM_HISTOGRAM_QUANTILE = f"""WITH
les(le) AS (VALUES {_HQ_LE_VALUES}, (CAST('infinity' AS DOUBLE))),
b AS (SELECT event_type, CAST(le AS DOUBLE) AS le,
             CAST(sum(CASE WHEN value <= le THEN 1 ELSE 0 END) AS DOUBLE) AS c
      FROM events CROSS JOIN les WHERE value IS NOT NULL GROUP BY 1, 2),
x AS (SELECT event_type, le, c,
             coalesce(lag(c) OVER w, 0) AS prev,
             coalesce(lag(le) OVER w, 0) AS lo,
             max(c) OVER (PARTITION BY event_type) AS tot,
             max(CASE WHEN le != CAST('infinity' AS DOUBLE) THEN le END)
                 OVER (PARTITION BY event_type) AS maxfin
      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY le)),
hit AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY le) AS rn
        FROM x WHERE tot > 0 AND c >= {HQ_Q} * tot)
SELECT event_type, CAST({HQ_Q} AS DOUBLE) AS q,
       round(CASE WHEN le = CAST('infinity' AS DOUBLE) THEN maxfin
             ELSE lo + (le - lo) * ({HQ_Q} * tot - prev) /
                  (CASE WHEN c > prev THEN c - prev ELSE 1.0 END) END,
             6) AS value
FROM hit WHERE rn = 1"""


def q_change_point_hourly(spark, sf_dir):
    """CUSUM change-point detection (operators/temporal.
    change_point_cusum — the ES 8.x change_point agg's shift test): per
    event_type, the hourly event-count series' argmax |S_t| split with
    the before/after mean shift. Integer counts keep the scaled-cusum
    argmax exact integer arithmetic — bit-identical across engines."""
    from bertopic_spark.operators.temporal import change_point_cusum

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = (ev.where(F.col("ts").isNotNull())
         .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
         .agg(F.count(F.lit(1)).cast("long").alias("v")))
    return change_point_cusum(b, "h", "v", keys=("event_type",))


SQL_CHANGE_POINT_HOURLY = """WITH
b AS (SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS DOUBLE) AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
x AS (SELECT event_type, h, v,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(v) OVER (PARTITION BY event_type) AS tot,
             row_number() OVER w AS i,
             sum(v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY h)),
s AS (SELECT *, n * cum - i * tot AS sc FROM x WHERE n >= 2),
top AS (SELECT event_type, h AS cp_order, i AS cp,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(sc) DESC, h ASC) AS rn
        FROM s WHERE i < n),
agg AS (SELECT s.event_type, t.cp_order,
               avg(CASE WHEN s.i <= t.cp THEN s.v END) AS mb,
               avg(CASE WHEN s.i > t.cp THEN s.v END) AS ma
        FROM s JOIN top t ON t.event_type = s.event_type AND t.rn = 1
        GROUP BY s.event_type, t.cp_order)
SELECT event_type, cp_order, round(abs(ma - mb), 6) AS magnitude,
       round(mb, 6) AS mean_before, round(ma, 6) AS mean_after
FROM agg"""


KS_A, KS_B = "click", "purchase"


def q_ks_value_distributions(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov (operators/rollup.ks_test_two_sample
    — the ES bucket_count_ks_test's underlying statistic, exact over raw
    values): D between the value distributions of click vs purchase
    events, with the attaining location. One distributed per-value
    groupBy, then the ECDF window over distinct values only."""
    from bertopic_spark.operators.rollup import ks_test_two_sample

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .where(F.col("event_type").isin(KS_A, KS_B)))
    return ks_test_two_sample(ev, "value", F.col("event_type") == KS_A)


SQL_KS_VALUE = f"""WITH
base AS (SELECT value AS v, event_type = '{KS_A}' AS a
         FROM events WHERE event_type IN ('{KS_A}', '{KS_B}')
           AND value IS NOT NULL),
cnt AS (SELECT v, sum(CASE WHEN a THEN 1 ELSE 0 END) AS na,
               sum(CASE WHEN a THEN 0 ELSE 1 END) AS nb
        FROM base GROUP BY v),
cum AS (SELECT v,
               sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS ca,
               sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cb
        FROM cnt),
tot AS (SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
        FROM cnt),
d AS (SELECT v, n_a, n_b, abs(ca * 1.0 / n_a - cb * 1.0 / n_b) AS dd
      FROM cum CROSS JOIN tot),
top AS (SELECT *, row_number() OVER (ORDER BY dd DESC, v ASC) AS rn FROM d)
SELECT round(dd, 6) AS d_stat, v AS at_value, n_a, n_b FROM top WHERE rn = 1"""


def q_percentiles_bucket_daily(spark, sf_dir):
    """ES percentiles_bucket sibling pipeline agg (operators/rollup.
    percentiles_bucket): exact linear-interpolation p25/50/75/99 of the
    DAILY event-count buckets per event_type — "how skewed are my days".
    Spark percentile == DuckDB quantile_cont interpolation."""
    from bertopic_spark.operators.rollup import percentiles_bucket

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = (ev.where(F.col("ts").isNotNull())
         .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
         .agg(F.count(F.lit(1)).cast("long").alias("v")))
    return percentiles_bucket(b, "v", [25.0, 50.0, 75.0, 99.0],
                              keys=("event_type",))


SQL_PERCENTILES_BUCKET = """WITH
b AS (SELECT event_type, date_trunc('day', ts) AS d,
             CAST(count(*) AS DOUBLE) AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
agg AS (SELECT event_type,
               quantile_cont(v, [0.25, 0.50, 0.75, 0.99]) AS qs
        FROM b GROUP BY event_type)
SELECT event_type,
       CAST([25.0, 50.0, 75.0, 99.0][i] AS DOUBLE) AS percent,
       round(qs[i], 6) AS value
FROM agg, unnest(generate_series(1, 4)) AS u(i)"""


LWA_WINDOW = 4


def q_lwa_hourly(spark, sf_dir):
    """ES moving_fn linearWeightedAvg (operators/rollup.
    linear_weighted_mavg): trailing 4-bucket linearly-weighted average
    of hourly event counts per event_type — newest bucket weighs most.
    Computed as two trailing window sums + a row_number (no per-row
    lists); integer counts keep the sums exact cross-engine."""
    from bertopic_spark.operators.rollup import linear_weighted_mavg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = (ev.where(F.col("ts").isNotNull())
         .groupBy("event_type",
                  F.date_trunc("hour", F.col("ts")).alias("h"))
         .agg(F.count(F.lit(1)).cast("long").alias("v")))
    return linear_weighted_mavg(b, "h", "v", keys=("event_type",),
                                window=LWA_WINDOW)


SQL_LWA_HOURLY = f"""WITH
b AS (SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM b),
x AS (SELECT event_type, h, v, rn,
             count(*) OVER wt AS m,
             sum(rn * v) OVER wt AS srv,
             sum(v) OVER wt AS sv
      FROM r
      WINDOW wt AS (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN {LWA_WINDOW - 1} PRECEDING AND CURRENT ROW))
SELECT event_type, h, v,
       round((srv - (rn - m) * sv) / (m * (m + 1) / 2.0), 6) AS lwa_v
FROM x"""


Q3_SEG, Q3_DATE = "BUILDING", "1998-01-01"


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 analog (shipping priority): revenue of undelivered
    orders for one market segment — customer (filtered, BROADCAST) ⨝
    orders ⨝ lineitem, grouped per order, top 10 by revenue. The
    dimension side never shuffles the fact table; Catalyst picks BHJ
    from the size hint at any corpus scale."""
    cu = (spark.read.parquet(f"{sf_dir}/customer.parquet")
          .filter(F.col("c_mktsegment") == Q3_SEG).select("c_custkey"))
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .filter(F.col("o_orderdate") < Q3_DATE))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .filter(F.col("l_shipdate") > Q3_DATE))
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    out = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
           .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
           .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
           .agg(F.round(rev, 2).alias("revenue")))
    w = Window.orderBy(F.desc("revenue"), F.asc("o_orderdate"),
                       F.asc("l_orderkey"))
    return (out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("l_orderkey", "o_orderdate", "o_orderpriority",
                    "revenue", F.col("rn").cast("long").alias("rn")))


SQL_SHIPPING_PRIORITY = f"""WITH agg AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = '{Q3_SEG}' AND o_orderdate < '{Q3_DATE}'
        AND l_shipdate > '{Q3_DATE}'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority),
r AS (SELECT *, row_number() OVER (ORDER BY revenue DESC, o_orderdate ASC,
                                   l_orderkey ASC) AS rn FROM agg)
SELECT l_orderkey, o_orderdate, o_orderpriority, revenue,
       CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= 10"""


Q5_REGION, Q5_LO, Q5_HI = "ASIA", "1996-01-01", "1997-01-01"


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 analog (local supplier volume): revenue where customer
    and supplier share a nation, one region, one order-year. All four
    dimension relations broadcast; lineitem (the fact) shuffles once on
    the orders join key."""
    n = (spark.read.parquet(f"{sf_dir}/nation.parquet")
         .join(F.broadcast(
             spark.read.parquet(f"{sf_dir}/region.parquet")
             .filter(F.col("r_name") == Q5_REGION)),
             F.col("n_regionkey") == F.col("r_regionkey")))
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    su = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .filter((F.col("o_orderdate") >= Q5_LO) &
                 (F.col("o_orderdate") < Q5_HI)))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(cu),
                  (F.col("o_custkey") == F.col("c_custkey")) &
                  (F.col("c_nationkey") == F.col("s_nationkey")))
            .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.round(rev, 2).alias("revenue")))


SQL_LOCAL_SUPPLIER_VOLUME = f"""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     JOIN supplier ON l_suppkey = s_suppkey
     JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
     JOIN nation ON s_nationkey = n_nationkey
     JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{Q5_REGION}' AND o_orderdate >= '{Q5_LO}'
      AND o_orderdate < '{Q5_HI}'
GROUP BY n_name"""


Q10_LO, Q10_HI = "1997-01-01", "1997-07-01"


def q_returned_customers_topk(spark, sf_dir):
    """TPC-H Q10 analog (returned-item reporting): customers who
    returned the most revenue in a half-year window — lineitem
    (returnflag R) ⨝ orders ⨝ broadcast customer ⨝ broadcast nation,
    top 20 by lost revenue."""
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .filter((F.col("o_orderdate") >= Q10_LO) &
                 (F.col("o_orderdate") < Q10_HI)))
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .filter(F.col("l_returnflag") == "R"))
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    out = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
           .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
           .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
           .agg(F.round(rev, 2).alias("revenue")))
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 20)
            .select("c_custkey", "c_name", "n_name",
                    F.round("c_acctbal", 2).alias("acctbal"), "revenue",
                    F.col("rn").cast("long").alias("rn")))


SQL_RETURNED_CUSTOMERS = f"""WITH agg AS (
  SELECT c_custkey, c_name, n_name, round(c_acctbal, 2) AS acctbal,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R' AND o_orderdate >= '{Q10_LO}'
        AND o_orderdate < '{Q10_HI}'
  GROUP BY c_custkey, c_name, n_name, c_acctbal),
r AS (SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey ASC)
                AS rn FROM agg)
SELECT c_custkey, c_name, n_name, acctbal, revenue, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= 20"""


Q7_N1, Q7_N2 = 3, 1  # nation keys with traffic at every sf


def q_nations_volume_shipping(spark, sf_dir):
    """TPC-H Q7 analog (volume shipping): yearly revenue flowing between
    two nations in either direction — supplier nation x customer nation
    pairs filtered to the two keys. Dims broadcast; fact shuffles once;
    the year projection is a scan-level expression."""
    su = spark.read.parquet(f"{sf_dir}/supplier.parquet") \
        .select("s_suppkey", F.col("s_nationkey").alias("supp_nation"))
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .select("c_custkey", F.col("c_nationkey").alias("cust_nation"))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pair = (((F.col("supp_nation") == Q7_N1) &
             (F.col("cust_nation") == Q7_N2)) |
            ((F.col("supp_nation") == Q7_N2) &
             (F.col("cust_nation") == Q7_N1)))
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
            .filter(pair)
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").alias("l_year"))
            .agg(F.round(rev, 2).alias("revenue"))
            .select(F.col("supp_nation").cast("long").alias("supp_nation"),
                    F.col("cust_nation").cast("long").alias("cust_nation"),
                    F.col("l_year").cast("long").alias("l_year"), "revenue"))


SQL_NATIONS_VOLUME = f"""
SELECT CAST(s_nationkey AS BIGINT) AS supp_nation,
       CAST(c_nationkey AS BIGINT) AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     JOIN supplier ON l_suppkey = s_suppkey
     JOIN customer ON o_custkey = c_custkey
WHERE (s_nationkey = {Q7_N1} AND c_nationkey = {Q7_N2})
   OR (s_nationkey = {Q7_N2} AND c_nationkey = {Q7_N1})
GROUP BY s_nationkey, c_nationkey, year(l_shipdate)"""


Q18_QTY = 80


def q_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 analog (large-volume customers): orders whose total
    quantity exceeds a threshold, with their customer — the HAVING
    pushdown shape: the per-order agg runs FIRST (one fact shuffle on
    the order key), survivors (a tiny relation) drive broadcast joins
    back to orders/customer."""
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("_tq"))
           .filter(F.col("_tq") > Q18_QTY)  # HAVING on the raw sum,
           .select("l_orderkey",            # round for display only
                   F.round("_tq", 2).alias("total_qty")))
    return (o.join(F.broadcast(big),
                   F.col("o_orderkey") == F.col("l_orderkey"))
            .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
            .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                    F.round("o_totalprice", 2).alias("totalprice"),
                    "total_qty"))


SQL_LARGE_VOLUME = f"""WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > {Q18_QTY})
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS totalprice, total_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
     JOIN customer ON o_custkey = c_custkey"""


FIS_MIN_SUP = 3


def q_frequent_brand_pairs(spark, sf_dir):
    """ES frequent_item_sets at size 2 (operators/pipeline.
    frequent_item_pairs — exact market-basket pairs): part BRANDS
    bought together in the same order, support >= 3. The pair join is
    per-order and guarded by the basket-size cap; support is one
    groupBy on the pair."""
    from bertopic_spark.operators.pipeline import frequent_item_pairs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    b = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")) \
        .select("l_orderkey", "p_brand")
    return frequent_item_pairs(b, "l_orderkey", "p_brand",
                               min_support=FIS_MIN_SUP)


# The basket-size cap CTE mirrors the engine's max_basket=256 default so
# engine and oracle agree even on a dataset containing a pathological
# basket with >256 distinct brands (ADVICE r4: without it the gate was
# green only because TPC-H baskets are tiny).
SQL_FREQUENT_BRAND_PAIRS = f"""WITH
b0 AS (SELECT DISTINCT l_orderkey AS bk, p_brand AS it
       FROM lineitem JOIN part ON l_partkey = p_partkey),
b AS (SELECT * FROM b0 WHERE bk IN
      (SELECT bk FROM b0 GROUP BY bk HAVING count(*) <= 256))
SELECT l.it AS item_a, r.it AS item_b, CAST(count(*) AS BIGINT) AS support
FROM b l JOIN b r ON l.bk = r.bk AND l.it < r.it
GROUP BY l.it, r.it HAVING count(*) >= {FIS_MIN_SUP}"""


TL_DOC = 42


def q_terms_lookup_topk(spark, sf_dir):
    """ES terms-lookup query (operators/fulltext.terms_lookup_topk):
    the filter's term set is doc 42's own vocabulary (fetched from the
    lookup relation, never inlined by the caller), matching docs
    Okapi-scored over those terms, self excluded — "docs like the one
    I'm pointing at, by its exact vocabulary"."""
    from bertopic_spark.operators.fulltext import terms_lookup_topk

    d = _docs(spark, sf_dir)
    t = terms_lookup_topk(d, d, TL_DOC, k=10, text_col="text",
                          id_col="doc_id", mode=MODE,
                          k1=OKAPI_K1, b=OKAPI_B)
    return t.select("doc_id", _r6(F.col("score")).alias("score"),
                    F.col("rank").cast("long").alias("rn"))


SQL_TERMS_LOOKUP = f"""WITH
toks AS (SELECT doc_id, unnest({duckdb_tokens_sql('text', MODE)}) AS term
         FROM documents WHERE doc_id != {TL_DOC}),
xdoc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM xdoc GROUP BY doc_id),
nstats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM xdoc GROUP BY term),
q AS (SELECT DISTINCT unnest({duckdb_tokens_sql('text', MODE)}) AS term
      FROM documents WHERE doc_id = {TL_DOC}),
hits AS (
  SELECT x.doc_id,
         sum(ln(1.0 + (ns.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
             x.tf * {OKAPI_K1 + 1.0} /
             (x.tf + {OKAPI_K1} * (1.0 - {OKAPI_B} +
                                   {OKAPI_B} * dl.dl / ns.avgdl))) AS score
  FROM q JOIN xdoc x USING (term) JOIN dfs USING (term)
       JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN nstats ns
  GROUP BY x.doc_id),
ranked AS (SELECT doc_id, score,
                  row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
           FROM hits)
SELECT doc_id, round(score, 6) AS score, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10"""


REGISTRY: Dict[str, Tuple[Callable[[SparkSession, str], DataFrame], Optional[str]]] = {
    "approx_distribution": (q_approx_distribution, SQL_APPROX_DISTRIBUTION),
    "approx_distribution_tokens": (q_approx_distribution_tokens,
                                   SQL_APPROX_DISTRIBUTION_TOKENS),
    "seeded_sample": (q_seeded_sample, SQL_SEEDED_SAMPLE),
    "zero_shot_split": (q_zero_shot_split, _sql_zero_shot()),
    "prob_scatter_add": (q_prob_scatter_add, SQL_PROB_SCATTER),
    "topic_set_ops": (q_topic_set_ops, SQL_TOPIC_SET_OPS),
    "ctfidf_seeded_topk": (q_ctfidf_seeded_topk, _sql_ctfidf_seeded()),
    "ctfidf_guided_topk": (q_ctfidf_guided_topk, _sql_ctfidf_guided()),
    "dedup_minhash_lsh_pairs": (q_minhash_lsh_pairs, _sql_minhash_lsh()),
    "dedup_minhash_lsh_star": (q_minhash_lsh_star, _sql_minhash_lsh_star()),
    "dedup_components": (q_dedup_components, _sql_dedup_components()),
    "phrase_match": (q_phrase_match, _sql_phrase_match()),
    "phrase_shingled_match": (q_phrase_shingled_match,
                              _sql_phrase_match(PHRASE3)),
    "boolean_match": (q_boolean_match, _sql_boolean_match()),
    "prefix_match": (q_prefix_match,
                     _sql_term_set_match(f"term LIKE '{PREFIX_Q}%'")),
    "wildcard_match": (q_wildcard_match, _sql_term_set_match(
        "regexp_matches(term, '^s.a.*$')")),
    "fuzzy_match": (q_fuzzy_match, _sql_term_set_match(
        f"levenshtein(term, '{FUZZY_Q}') <= {FUZZY_DIST}")),
    "snippet_topk": (q_snippet_topk, _sql_snippet_topk()),
    "top_snippets_frags": (q_top_snippets, _sql_top_snippets()),
    "facet_counts": (q_facet_counts, _sql_facet_counts()),
    "more_like_this": (q_more_like_this, SQL_MORE_LIKE_THIS),
    "redact_pii": (q_redact_pii, _sql_redact_pii()),
    "did_you_mean": (q_did_you_mean, _sql_did_you_mean()),
    "hybrid_rrf": (q_hybrid_rrf, _sql_hybrid_rrf()),
    "pq_adc_topk": (q_pq_adc_topk, _sql_pq_adc()),
    "ann_sq8_topk": (q_ann_sq8_topk, _sql_ann_sq8()),
    "term_associations": (q_term_associations, _sql_term_associations()),
    "proximity_match": (q_proximity_match, _sql_proximity_match()),
    "collapse_topk": (q_collapse_topk, SQL_COLLAPSE_TOPK),
    "bm25f_topk": (q_bm25f_topk, _sql_bm25f()),
    "prf_expand_topk": (q_prf_expand_topk, _sql_prf()),
    "passage_topk": (q_passage_topk, _sql_passage_topk()),
    "bm25_stratified_topk": (q_bm25_stratified, _sql_bm25_stratified()),
    "pack_shards": (q_pack_shards, _sql_pack_shards()),
    "gopher_filter": (q_gopher_filter, _sql_gopher_filter()),
    "training_shards": (q_training_shards, _sql_training_shards()),
    "search_query_lang": (q_search_query, _sql_search_query()),
    "search_query_indexed": (q_search_query_indexed, _sql_search_query()),
    "stratified_sample": (q_stratified_sample, _sql_stratified_sample()),
    "dsir_sample": (q_dsir_sample, _sql_dsir_sample()),
    "cms_estimates": (q_cms_estimates, _sql_cms_estimates()),
    "bloom_membership": (q_bloom_membership, _sql_bloom_membership()),
    "hll_distinct_terms": (q_hll_distinct_terms, _sql_hll_distinct_terms()),
    "theta_term_setops": (q_theta_term_setops, _sql_theta_setops()),
    "corpus_profile": (q_corpus_profile, _sql_corpus_profile()),
    "lm_perplexity": (q_lm_perplexity, _sql_lm_perplexity()),
    "langid_ngram": (q_langid_ngram, _sql_langid_ngram()),
    "dup_spans": (q_dup_spans, _sql_dup_spans()),
    "pruned_bm25_topk": (q_pruned_bm25_topk, _sql_pruned_bm25_topk()),
    "sessionize_events": (q_sessionize_events, _sql_sessionize_events()),
    "search_snippets": (q_search_snippets, SQL_SEARCH_SNIPPETS),
    "frequent_lines_removed": (q_frequent_lines_removed, SQL_FREQUENT_LINES),
    "decontaminate_bench": (q_decontaminate_bench, SQL_DECONTAMINATE),
    "dedup_embedding_neardup": (q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
    "dedup_embedding_neardup_lsh": (q_embedding_neardup_lsh,
                                    _sql_embedding_neardup_lsh()),
    "topic_info": (q_topic_info, SQL_TOPIC_INFO),
    "merged_topics_topk": (q_merged_topics_topk, SQL_MERGED_TOPICS),
    "find_topics": (q_find_topics, _sql_find_topics()),
    "representative_docs": (q_representative_docs, SQL_REPRESENTATIVE_DOCS),
    "evolution_tuned_over_time": (q_evolution_tuned_over_time, SQL_EVOLUTION_TUNED),
    "mmr_topk": (q_mmr_topk, _sql_mmr_topk()),
    "hierarchical_topics": (q_hierarchical_topics, _sql_hierarchical()),
    "hierarchy_level_topics": (q_hierarchy_level_topics,
                               _sql_hierarchy_levels()),
    "reduce_outliers_ctfidf": (q_reduce_outliers, SQL_REDUCE_OUTLIERS),
    "reduce_outliers_distributions": (q_reduce_outliers_dist, SQL_REDUCE_OUTLIERS_DIST),
    "keybert_topk": (q_keybert_topk, SQL_KEYBERT),
    "pos_filter_topk": (q_pos_filter_topk, SQL_POS_FILTER),
    "tokenize_doc_counts": (q_tokenize_doc_counts, SQL_TOKENIZE),
    "class_postings": (q_class_postings, SQL_CLASS_POSTINGS),
    "term_stats_default": (_q_term_stats(False), _sql_term_stats(False)),
    "term_stats_bm25": (_q_term_stats(True), _sql_term_stats(True)),
    "ctfidf_topk_default": (_q_ctfidf_topk(False, False), _sql_ctfidf_topk(False, False)),
    "ctfidf_topk_bm25_sqrt": (_q_ctfidf_topk(True, True), _sql_ctfidf_topk(True, True)),
    "bm25_doc_topk": (q_bm25_doc_topk, SQL_BM25_DOC_TOPK),
    "has_child_topk": (q_has_child_topk, SQL_HAS_CHILD),
    "dfs_shard_topk": (q_dfs_shard_topk, SQL_BM25_DOC_TOPK),
    "bpe_merges": (q_bpe_merges, _sql_bpe_merges()),
    "bigram_lm_perplexity": (q_bigram_lm_perplexity,
                             _sql_bigram_lm_perplexity()),
    "bpe_subword_counts": (q_bpe_subword_counts, _sql_bpe_subword_counts()),
    "incremental_bm25_topk": (q_incremental_bm25_topk, SQL_INCREMENTAL_BM25),
    "topic_sizes": (q_topic_sizes, SQL_TOPIC_SIZES),
    "topics_per_class": (q_topics_per_class, SQL_TOPICS_PER_CLASS),
    "topics_over_time": (q_topics_over_time, SQL_TOPICS_OVER_TIME),
    "topics_over_time_binned": (q_topics_over_time_binned, SQL_TOPICS_OVER_TIME_BINNED),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "date_histogram_dense": (q_date_histogram_dense,
                             SQL_DATE_HISTOGRAM_DENSE),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "dedup_minhash_signatures": (q_minhash_signatures, _sql_minhash(8)),
    "dedup_simhash": (q_simhash, _sql_simhash(16)),
    "ann_cosine_topk": (q_ann_cosine_topk, _sql_ann(10, False)),
    "ann_lsh_topk": (q_ann_lsh_topk, _sql_ann(10, True)),
    "ann_rplsh_topk": (q_ann_rplsh_topk, _sql_ann_rplsh()),
    "ann_rplsh_multitable": (q_ann_rplsh_multitable, _sql_ann_rplsh_multi()),
    "dedup_simhash_pairs": (q_simhash_pairs, _sql_simhash_pairs()),
    "class_centroids": (q_class_centroids, SQL_CLASS_CENTROIDS),
    "token_stats": (q_token_stats, _sql_token_stats()),
    "repetition_stats": (q_repetition_stats, _sql_repetition_stats()),
    "quality_score": (q_quality_score, _sql_quality_score()),
    "doc_fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "assign_nearest_class": (q_assign_nearest_class, SQL_ASSIGN_NEAREST),
    "transform_distribution": (q_transform_distribution, SQL_TRANSFORM_DISTRIBUTION),
    "ivf_ann_topk": (q_ivf_ann_topk, _sql_ivf_ann()),
    "ivfpq_ann_topk": (q_ivfpq_topk, _sql_ivfpq()),
    "document_info": (q_document_info, SQL_DOCUMENT_INFO),
    "generated_labels": (q_generated_labels, SQL_GENERATED_LABELS),
    "topic_sim_matrix": (q_topic_sim_matrix, SQL_TOPIC_SIM_MATRIX),
    "term_rank_curve": (q_term_rank_curve, SQL_TERM_RANK_CURVE),
    "topic_map_2d": (q_topic_map_2d, SQL_TOPIC_MAP_2D),
    "document_map_2d": (q_document_map_2d, SQL_DOCUMENT_MAP_2D),
    "merge_models_sizes": (q_merge_models_sizes, _sql_merge_models()),
    "cooccurrence_edges": (q_cooccurrence_edges, _sql_cooccurrence_edges()),
    "textrank_keywords": (q_textrank_keywords, _sql_textrank_keywords()),
    "hits_bigram": (q_hits_bigram, _sql_hits_bigram()),
    "lm_topk": (q_lm_topk, SQL_LM_TOPK),
    "team_draft_interleave": (q_team_draft_interleave, _sql_team_draft()),
    "ltr_features": (q_ltr_features, SQL_LTR_FEATURES),
    "ltr_logreg_rerank": (q_ltr_logreg_rerank, _sql_ltr_logreg()),
    "ltr_ranknet_rerank": (q_ltr_ranknet_rerank, _sql_ltr_ranknet()),
    "tiered_bm25_topk": (q_tiered_bm25_topk, SQL_BM25_DOC_TOPK),
    "asof_bm25_topk": (q_asof_bm25_topk, SQL_BM25_DOC_TOPK),
    "explain_topk": (q_explain_topk, SQL_EXPLAIN_TOPK),
    "okapi_bm25_topk": (q_okapi_bm25_topk, SQL_OKAPI_BM25),
    "percolate": (q_percolate, SQL_PERCOLATE),
    "incremental_okapi_topk": (q_incremental_okapi_topk, SQL_INCREMENTAL_OKAPI),
    "code_tokenize_counts": (q_code_tokenize_counts, _sql_code_tokenize()),
    "search_after_page2": (q_search_after_page2, SQL_SEARCH_AFTER),
    "textrank_per_class": (q_textrank_per_class, _sql_textrank_per_class()),
    "asof_click_purchase": (q_asof_click_purchase, SQL_ASOF),
    "range_click_purchase": (q_range_click_purchase, SQL_RANGE_JOIN),
    "events_rollup_day": (q_events_rollup_day, SQL_ROLLUP_DAY),
    "suggest_index_topk": (q_suggest_index, SQL_SUGGEST_INDEX),
    "index_changes_cdc": (q_index_changes, SQL_INDEX_CHANGES),
    "combmnz_fuse": (q_combmnz_fuse, _sql_combmnz()),
    "events_cube": (q_events_cube, SQL_EVENTS_CUBE),
    "events_rolling_24h": (q_events_rolling_24h, SQL_EVENTS_ROLLING),
    "okapi_wand_topk": (q_okapi_wand_topk, SQL_OKAPI_BM25),
    "min_should_topk": (q_min_should_topk, SQL_MIN_SHOULD),
    "stemmed_vocab": (q_stemmed_vocab, SQL_STEMMED_VOCAB),
    "synonym_bm25_topk": (q_synonym_bm25_topk, SQL_SYNONYM_BM25),
    "significant_terms": (q_significant_terms, SQL_SIGNIFICANT_TERMS),
    "decay_topk": (q_decay_topk, SQL_DECAY_TOPK),
    "lm_jm_topk": (q_lm_jm_topk, SQL_LM_JM_TOPK),
    "dfr_pl2_topk": (q_dfr_pl2_topk, SQL_DFR_PL2),
    "dfi_topk": (q_dfi_topk, SQL_DFI_TOPK),
    "ib_ll_topk": (q_ib_ll_topk, SQL_IB_LL),
    "ib_spl_topk": (q_ib_spl_topk, SQL_IB_SPL),
    "axiomatic_f2exp_topk": (q_axiomatic_f2exp_topk, SQL_AXIOMATIC_F2EXP),
    "classic_tfidf_topk": (q_classic_tfidf_topk, SQL_CLASSIC_TFIDF),
    "regexp_match": (q_regexp_match, _sql_term_set_match(
        f"regexp_matches(term, '^(?:{REGEXP_Q})$')")),
    "query_difficulty": (q_query_difficulty, SQL_QUERY_DIFFICULTY),
    "clarity_score": (q_clarity_score, _sql_clarity()),
    "cori_shard_scores": (q_cori_shard_scores, SQL_CORI_SHARDS),
    "selective_search_topk": (q_selective_search_topk, SQL_SELECTIVE_SEARCH),
    "common_terms_topk": (q_common_terms_topk, SQL_COMMON_TERMS),
    "phrase_boost_topk": (q_phrase_boost_topk, _sql_phrase_boost()),
    "rescore_topk": (q_rescore_topk, SQL_RESCORE),
    "dismax_topk": (q_dismax_topk, SQL_DISMAX),
    "boosting_topk": (q_boosting_topk, _sql_boosting()),
    "span_near_match": (q_span_near_match, _sql_span_near()),
    "dedup_keep_canonical": (q_dedup_keep_canonical, _sql_keep_canonical()),
    "quantile_sketch": (q_quantile_sketch, _sql_quantile_sketch()),
    "domain_mix_sample": (q_domain_mix_sample, _sql_domain_mix()),
    "percentile_ranks": (q_percentile_ranks, _sql_percentile_ranks()),
    "facet_topn_approx": (q_facet_topn_approx, _sql_facet_topn()),
    "phrase_prefix_match": (q_phrase_prefix_match, _sql_phrase_prefix()),
    "okapi_maxscore_topk": (q_okapi_maxscore_topk, SQL_OKAPI_BM25),
    "search_query_boosted": (q_search_query_boosted,
                             _sql_search_query_boosted()),
    "phrase_suggest": (q_phrase_suggest, _sql_phrase_suggest()),
    "term_vectors": (q_term_vectors, _sql_term_vectors()),
    "composite_agg_page2": (q_composite_agg, SQL_COMPOSITE_AGG),
    "pipeline_aggs_hourly": (q_pipeline_aggs, SQL_PIPELINE_AGGS),
    "ann_filtered_topk": (q_ann_filtered_topk, _sql_ann_filtered()),
    "range_agg_values": (q_range_agg, _sql_range_agg()),
    "matrix_stats_corr": (q_matrix_stats, _sql_matrix_stats()),
    "rank_eval_bm25": (q_rank_eval, SQL_RANK_EVAL),
    "ranker_ttest": (q_ranker_ttest, _sql_ranker_ttest()),
    "adjacency_matrix": (q_adjacency_matrix, _sql_adjacency()),
    "vocab_kl_drift": (q_vocab_kl_drift, _sql_vocab_kl_drift()),
    "dedup_minhash_incremental": (q_minhash_incremental, _sql_minhash_incremental()),
    "span_not_match": (q_span_not_match, _sql_span_not()),
    "extended_stats_events": (q_extended_stats, SQL_EXTENDED_STATS),
    "weighted_sample_wor": (q_weighted_sample, _sql_weighted_sample()),
    "explain_score": (q_explain_score, _sql_explain_score()),
    "t_test_en_vs_rest": (q_t_test, SQL_T_TEST),
    "mad_event_values": (q_mad, SQL_MAD),
    "string_stats_lang": (q_string_stats, SQL_STRING_STATS),
    "rare_terms_tail": (q_rare_terms, SQL_RARE_TERMS),
    "boxplot_events": (q_boxplot, SQL_BOXPLOT),
    "top_hits_per_type": (q_top_hits, SQL_TOP_HITS),
    "multi_terms_lang_source": (q_multi_terms, SQL_MULTI_TERMS),
    "phrase_batch_match": (q_phrase_batch_match, _sql_phrase_batch()),
    "serial_diff_norm_hourly": (q_serial_diff_norm, SQL_SERIAL_DIFF_NORM),
    "diversified_sample_docs": (q_diversified_sample, SQL_DIVERSIFIED_SAMPLE),
    "rm3_topk": (q_rm3_topk, SQL_RM3_TOPK),
    "impact_quantized_topk": (q_impact_topk, SQL_IMPACT_TOPK),
    "umass_coherence": (q_umass_coherence, SQL_UMASS),
    "npmi_coherence": (q_npmi_coherence, SQL_NPMI),
    "topic_diversity": (q_topic_diversity, SQL_TOPIC_DIVERSITY),
    "comment_terms_topk": (q_comment_terms_topk, _sql_comment_terms()),
    "symbol_definitions": (q_symbol_definitions, _sql_symbol_defs()),
    "import_edges": (q_import_edges, _sql_import_edges()),
    "multi_match_best_fields": (q_multi_match_best_fields, _sql_multi_match()),
    "span_near_or_match": (q_span_near_or_match, _sql_span_near_or()),
    "span_first_match": (q_span_first_match, _sql_span_first()),
    "field_value_factor_topk": (q_field_value_factor, _sql_field_value_factor()),
    "symbol_resolve": (q_symbol_resolve, _sql_symbol_resolve()),
    "wildcard_indexed": (q_wildcard_indexed, _sql_wildcard_indexed()),
    "semdedup_keep": (q_semdedup, _sql_semdedup()),
    "match_bool_prefix": (q_match_bool_prefix, _sql_match_bool_prefix()),
    "significant_results_terms": (q_significant_results_terms,
                                  _sql_significant_results()),
    "pinned_topk": (q_pinned_topk, _sql_pinned()),
    "dedup_containment": (q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "dedup_containment_boiler": (q_dedup_containment_boiler,
                                 SQL_DEDUP_CONTAINMENT_BOILER),
    "prom_histogram_quantile": (q_prom_histogram_quantile,
                                SQL_PROM_HISTOGRAM_QUANTILE),
    "change_point_hourly": (q_change_point_hourly, SQL_CHANGE_POINT_HOURLY),
    "ks_value_click_vs_purchase": (q_ks_value_distributions, SQL_KS_VALUE),
    "terms_lookup_topk": (q_terms_lookup_topk, SQL_TERMS_LOOKUP),
    "percentiles_bucket_daily": (q_percentiles_bucket_daily,
                                 SQL_PERCENTILES_BUCKET),
    "lwa_hourly": (q_lwa_hourly, SQL_LWA_HOURLY),
    "shipping_priority": (q_shipping_priority, SQL_SHIPPING_PRIORITY),
    "local_supplier_volume": (q_local_supplier_volume,
                              SQL_LOCAL_SUPPLIER_VOLUME),
    "returned_customers_topk": (q_returned_customers_topk,
                                SQL_RETURNED_CUSTOMERS),
    "frequent_brand_pairs": (q_frequent_brand_pairs,
                             SQL_FREQUENT_BRAND_PAIRS),
    "nations_volume_shipping": (q_nations_volume_shipping,
                                SQL_NATIONS_VOLUME),
    "large_volume_customers": (q_large_volume_customers, SQL_LARGE_VOLUME),
    "auto_date_histogram": (q_auto_date_histogram,
                            _sql_auto_date_histogram()),
    "incremental_phrase_match": (q_incremental_phrase_match,
                                 _sql_incremental_phrase()),
    "sig_terms_percentage": (q_sig_terms_percentage, SQL_SIG_PERCENTAGE),
    "bucket_stats_hourly": (q_bucket_stats_hourly, SQL_BUCKET_STATS),
    "hybrid_linear_fuse": (q_hybrid_linear, _sql_hybrid_linear()),
    "bm25plus_topk": (q_bm25plus_topk, _sql_bm25plus()),
    "terms_set_match": (q_terms_set_match, _sql_terms_set()),
    "function_score_multi": (q_function_score_multi,
                             _sql_function_score_multi()),
    "ann_bq_topk": (q_ann_bq_topk, _sql_ann_bq()),
    "top_metrics_latest": (q_top_metrics_latest, SQL_TOP_METRICS),
    "weighted_avg_value": (q_weighted_avg_value, SQL_WEIGHTED_AVG),
    "rank_feature_topk": (q_rank_feature_topk, SQL_RANK_FEATURE),
    "distance_feature_topk": (q_distance_feature_topk, SQL_DISTANCE_FEATURE),
    "bucket_chain_hourly": (q_bucket_chain_hourly, SQL_BUCKET_CHAIN),
    "rate_events_daily": (q_rate_events_daily, SQL_RATE_EVENTS),
    "date_range_clicks": (q_date_range_clicks, _sql_date_range()),
    "filters_agg_docs": (q_filters_agg_docs, _sql_filters_agg()),
    "span_within_match": (q_span_within_match, _sql_span_within()),
    "span_containing_match": (q_span_containing_match,
                              _sql_span_containing()),
    "intervals_match": (q_intervals_match, _sql_intervals()),
    "bm25l_topk": (q_bm25l_topk, SQL_BM25L),
    "significant_text_topk": (q_significant_text, _sql_significant_text()),
    "unimax_sample": (q_unimax_sample, SQL_UNIMAX),
    "moving_percentiles_daily": (q_moving_percentiles,
                                 _sql_moving_percentiles()),
    "fuzzy_dl_match": (q_fuzzy_dl_match, _sql_term_set_match(
        f"damerau_levenshtein(term, '{FUZZYDL_Q}') <= 1")),
    "search_query_range": (q_search_query_range, _sql_search_query_range()),
    "ann_matryoshka_topk": (q_ann_matryoshka_topk, _sql_ann_matryoshka()),
    "perplexity_buckets": (q_perplexity_buckets, _sql_perplexity_buckets()),
    "multi_match_cross_fields": (q_multi_match_cross_fields,
                                 _sql_multi_match_cross()),
    "cumulative_cardinality": (q_cumulative_cardinality,
                               _sql_cumulative_cardinality()),
    "categorize_text": (q_categorize_text, SQL_CATEGORIZE_TEXT),
    "span_multi_match": (q_span_multi_match, _sql_span_multi()),
    "bloom_semi_join": (q_bloom_semi_join, SQL_BLOOM_SEMI),
    "decay_functions": (q_decay_functions, _sql_decay_functions()),
    "collapse_inner_hits": (q_collapse_inner_hits, SQL_COLLAPSE_INNER),
    "mmr_diversify_ann": (q_mmr_diversify_ann, _sql_mmr_diversify()),
    "percolate_phrases": (q_percolate_phrases, _sql_percolate_phrases()),
    "rank_eval_err": (q_rank_eval_err, SQL_RANK_EVAL_ERR),
    "seasonal_anomaly_hourly": (q_seasonal_anomaly, SQL_SEASONAL_ANOM),
    "ewma_daily": (q_ewma_daily, SQL_EWMA_DAILY),
    "cohort_retention_daily": (q_cohort_retention, SQL_COHORT_RETENTION),
    "funnel_conversion": (q_funnel_conversion, _sql_funnel()),
    "rolling_cardinality_wau": (q_rolling_cardinality,
                                _sql_rolling_cardinality()),
    "path_hierarchy_rollup": (q_path_hierarchy, SQL_PATH_HIERARCHY),
    "cuped_reduction": (q_cuped_reduction, SQL_CUPED),
    "sig_terms_chi2": (_q_sig_heuristic("chi_square"),
                       _sql_sig_heuristic("chi_square")),
    "sig_terms_mi": (_q_sig_heuristic("mutual_information"),
                     _sql_sig_heuristic("mutual_information")),
    "numeric_histogram": (q_numeric_histogram, SQL_NUMERIC_HISTOGRAM),
    "counter_rate_hourly": (q_counter_rate, SQL_COUNTER_RATE),
    "interval_overlap_pairs": (q_interval_overlap, SQL_INTERVAL_OVERLAP),
    "hybrid_weighted_rrf": (q_hybrid_weighted_rrf,
                            _sql_hybrid_weighted_rrf()),
}
