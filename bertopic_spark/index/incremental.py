"""Incremental index maintenance: append / delete / compact over segment
generations, rank-identical to a full rebuild.

The reference rebuilds its model from scratch on new data (BERTopic's
``partial_fit`` recomputes c-TF-IDF over accumulated counts,
``_bertopic.py:703-760``); a 100-TB index cannot. This module is the
engine's Lucene-shaped answer — and it falls out of the scoring algebra:

    score(doc, term) = (tf / doc_len) * idf(term)        (operators/ctfidf.py)

The per-doc factor ``tfn = tf/doc_len`` never changes when OTHER documents
are added or removed; only the tiny per-term ``idf`` table does (df and the
int-truncated average length A are corpus-global). So:

* every **add generation** stores idf-FREE postings — the payload's score
  slot holds tfn (float32, a valid per-block max for future pruning) — plus
  a ``norms`` sidecar (doc_id, doc_len; Lucene's .nvd) for exact float64
  rescoring, and a per-term stats relation (term, df = Σtf).
* every **delete generation** stores the tombstoned doc_ids plus the same
  stats relation computed over the deleted docs — a NEGATIVE delta.
* at query time the merged statistics are one signed sum over the per-gen
  stats (pruned to the query's terms, pushed to the parquet scan) and a
  driver-side sum of per-gen scalar counters; the merged idf is a
  broadcast-joined table exactly as in the one-shot path. Result: top-k
  over (adds − deletes) is bit-near-identical (float64 throughout on the
  exact path) to rebuilding the index over the surviving documents.

At 100 TB: an append touches only the new documents (one tokenize pass, one
(term, blk) shuffle over the NEW postings); a delete tokenizes only the
deleted documents; nothing ever rewrites existing segments until
``compact()`` — which is itself a single decode→filter→re-encode pass with
no retokenization (doc_len is recovered exactly as Σtf over each doc's
decoded postings, so compaction never needs the original corpus).

Crash safety: generation directories are written first and the root
manifest (``gens.json``) is swapped last via atomic rename; a crashed
append/delete leaves an unreferenced directory, never a half-visible
generation (same contract as checkpoint.py's stage manifests).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bertopic_spark.index.segments import (
    DEFAULT_SPAN,
    N_TERM_BUCKETS,
    SegmentTree,
    assign_doc_ids,
    build_block_index,
    decode_blocks,
    verify_content_sha,
    write_index_segments,
)
from bertopic_spark.operators.ctfidf import DEFAULT_CLAMP
from bertopic_spark.operators.postings import doc_term_counts

_MANIFEST = "gens.json"
_STATS_SCHEMA = "term string, df long"
_NORMS_SCHEMA = "doc_id long, doc_len long"
_IDS_SCHEMA = "doc_id long"


def _write_manifest(root: str, manifest: dict) -> None:
    tmp = os.path.join(root, _MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(root, _MANIFEST))


class IncrementalIndex:
    """Segment-generation index with append / delete / compact.

    Use :meth:`create` for a new root, :meth:`open` to resume an existing
    one (the manifest is the only state — any SparkSession can reopen it).
    """

    def __init__(self, spark: SparkSession, root: str, manifest: dict):
        self.spark = spark
        self.root = root
        self.manifest = manifest
        self.cfg = manifest["config"]
        self._frozen = False  # True for as_of() time-travel views

    def _mutable(self) -> None:
        if self._frozen:
            raise ValueError(
                "this IncrementalIndex is a read-only as_of() view; "
                "open the live index to append/delete/compact")

    def as_of(self, n_gens: int) -> "IncrementalIndex":
        """Time-travel view: the index exactly as it was after its first
        ``n_gens`` generations (0 = empty). Generations are immutable and
        the manifest is the only state, so the view is free — no data is
        copied; every read path (``topk``/``postings``/``merged_stats``/
        ``status``) simply sees the manifest prefix. Same contract as an
        Iceberg snapshot read: reproducible retrieval for training-data
        lineage ("which shards did the index serve LAST week?").

        ``compact()`` rewrites history into one generation and removes the
        old directories — it is snapshot expiry; earlier as_of points are
        gone after it (by design: retention is a storage decision, and a
        caller wanting history keeps compaction off or snapshots the
        manifest). Views are read-only: mutators raise.
        """
        gens = self.manifest["gens"]
        if not 0 <= n_gens <= len(gens):
            raise ValueError(
                f"as_of({n_gens}) out of range: index has {len(gens)} "
                "generations")
        m = dict(self.manifest)
        m["gens"] = list(gens[:n_gens])
        view = IncrementalIndex(self.spark, self.root, m)
        view._frozen = True
        return view

    # -- lifecycle ----------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        mode: str = "ascii_code",
        bm25_weighting: bool = True,
        reduce_frequent_words: bool = False,
        span: int = DEFAULT_SPAN,
        n_buckets: int = N_TERM_BUCKETS,
        clamp: float | None = DEFAULT_CLAMP,
    ) -> "IncrementalIndex":
        if os.path.exists(os.path.join(root, _MANIFEST)):
            raise ValueError(f"index already exists at {root}")
        os.makedirs(root, exist_ok=True)
        manifest = {
            "config": {
                "mode": mode,
                "bm25_weighting": bool(bm25_weighting),
                "reduce_frequent_words": bool(reduce_frequent_words),
                "span": int(span),
                "n_buckets": int(n_buckets),
                "clamp": clamp,
            },
            "gens": [],
        }
        _write_manifest(root, manifest)
        return cls(spark, root, manifest)

    @classmethod
    def open(cls, spark: SparkSession, root: str) -> "IncrementalIndex":
        with open(os.path.join(root, _MANIFEST)) as f:
            return cls(spark, root, json.load(f))

    def status(self) -> dict:
        gens = self.manifest["gens"]
        adds = [g for g in gens if g["kind"] == "add"]
        dels = [g for g in gens if g["kind"] == "delete"]
        return {
            "generations": len(gens),
            "adds": len(adds),
            "deletes": len(dels),
            "live_docs": sum(g["n_rows"] for g in adds)
            - sum(g["n_rows"] for g in dels),
            "n_classes": sum(g["n_classes"] for g in adds)
            - sum(g["n_classes"] for g in dels),
            "sum_len": sum(g["sum_len"] for g in adds)
            - sum(g["sum_len"] for g in dels),
        }

    # -- internals ----------------------------------------------------------

    def _gen_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _next_name(self, kind: str) -> str:
        n = len(self.manifest["gens"])
        return f"{'gen' if kind == 'add' else 'del'}-{n:05d}"

    def _next_id_base(self) -> int:
        mx = -1
        for g in self.manifest["gens"]:
            if g["kind"] == "add" and g.get("id_max") is not None:
                mx = max(mx, int(g["id_max"]))
        return mx + 1

    def _tfn(self, tf: F.Column, doc_len: F.Column) -> F.Column:
        tfn = tf / doc_len
        if self.cfg["reduce_frequent_words"]:
            tfn = F.sqrt(tfn)
        return tfn

    def _counts(self, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        x = doc_term_counts(df, text_col, [id_col], self.cfg["mode"],
                            with_len=True)
        if id_col != "doc_id":
            x = x.withColumnRenamed(id_col, "doc_id")
        return x

    # -- mutation -----------------------------------------------------------

    def append(
        self,
        df: DataFrame,
        text_col: str = "content",
        id_col: str | None = None,
        order_cols: Sequence[str] | None = None,
        sha_col: str | None = None,
    ) -> dict:
        """Index new documents as one generation; O(new docs) only.

        ``id_col=None`` assigns dense deterministic doc_ids above every id
        this index has ever issued (``assign_doc_ids`` over ``order_cols``,
        offset by the running base). Caller-provided ids are validated not
        to overlap any existing add generation's id range — collisions
        would silently merge two documents' postings.
        """
        self._mutable()
        if sha_col is not None:
            bad = verify_content_sha(df, text_col, sha_col)
            if bad:
                raise ValueError(f"content sha mismatch on {bad} rows")
        if id_col is None:
            base = self._next_id_base()
            if not order_cols:
                raise ValueError("order_cols required when id_col is None")
            df = assign_doc_ids(df.select(*order_cols, text_col), order_cols)
            if base:
                df = df.withColumn("doc_id", F.col("doc_id") + F.lit(base))
            id_col = "doc_id"

        agg = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(id_col).alias("id_min"),
            F.max(id_col).alias("id_max"),
        ).collect()[0]
        if agg["n_rows"] and agg["id_min"] is not None:
            if int(agg["id_min"]) < 0:
                raise ValueError("doc ids must be non-negative")
            if any(g["kind"] == "add" for g in self.manifest["gens"]):
                # Exact collision check against the norms sidecar (every
                # already-indexed doc with ≥1 token): colliding ids would
                # silently merge two documents' postings. One narrow scan;
                # the new batch's ids broadcast (appends ≪ index).
                dup = (self.norms()
                       .join(F.broadcast(
                           df.select(F.col(id_col).cast("long")
                                     .alias("doc_id")).distinct()),
                           "doc_id").count())
                if dup:
                    raise ValueError(
                        f"{dup} doc ids already exist in the index")

        x = self._counts(df, text_col, id_col).persist()
        try:
            name = self._next_name("add")
            gdir = self._gen_dir(name)
            scores = x.select(
                "doc_id", "term", "tf",
                self._tfn(F.col("tf"), F.col("doc_len")).cast("float")
                .cast("double").alias("score"))
            write_index_segments(
                build_block_index(scores, self.cfg["span"]),
                os.path.join(gdir, "segments"), self.cfg["n_buckets"])
            (x.groupBy("term").agg(F.sum("tf").alias("df"))
             .write.mode("overwrite").parquet(os.path.join(gdir, "stats")))
            (x.groupBy("doc_id").agg(F.max("doc_len").alias("doc_len"))
             .write.mode("overwrite").parquet(os.path.join(gdir, "norms")))
            s = x.agg(
                F.countDistinct("doc_id").alias("n_classes"),
                F.coalesce(F.sum("tf"), F.lit(0)).alias("sum_len"),
            ).collect()[0]
            entry = {
                "name": name, "kind": "add",
                "n_rows": int(agg["n_rows"]),
                "n_classes": int(s["n_classes"]),
                "sum_len": int(s["sum_len"]),
                "id_min": None if agg["id_min"] is None else int(agg["id_min"]),
                "id_max": None if agg["id_max"] is None else int(agg["id_max"]),
            }
        finally:
            x.unpersist()
        self.manifest["gens"].append(entry)
        _write_manifest(self.root, self.manifest)
        return entry

    def delete(self, docs: DataFrame, text_col: str = "content",
               id_col: str = "doc_id") -> dict:
        """Tombstone documents AND subtract their exact statistics.

        ``docs`` must carry both the doc_id and the content (the same bytes
        that were appended) — one tokenize pass over the DELETED docs only
        yields the per-term df delta that keeps the merged idf equal to a
        rebuild over the survivors. Deleting an id twice would
        double-subtract, so overlap with existing tombstones raises.
        """
        self._mutable()
        ids = docs.select(F.col(id_col).cast("long").alias("doc_id")).distinct()
        prior = self.tombstones()
        if prior is not None:
            dup = ids.join(prior, "doc_id").count()
            if dup:
                raise ValueError(f"{dup} doc ids are already tombstoned")

        x = self._counts(docs, text_col, id_col).persist()
        try:
            name = self._next_name("delete")
            gdir = self._gen_dir(name)
            (x.groupBy("term").agg(F.sum("tf").alias("df"))
             .write.mode("overwrite").parquet(os.path.join(gdir, "stats")))
            ids.write.mode("overwrite").parquet(os.path.join(gdir, "ids"))
            s = x.agg(
                F.countDistinct("doc_id").alias("n_classes"),
                F.coalesce(F.sum("tf"), F.lit(0)).alias("sum_len"),
            ).collect()[0]
            n_rows = ids.count()
            entry = {
                "name": name, "kind": "delete",
                "n_rows": int(n_rows),
                "n_classes": int(s["n_classes"]),
                "sum_len": int(s["sum_len"]),
            }
        finally:
            x.unpersist()
        self.manifest["gens"].append(entry)
        _write_manifest(self.root, self.manifest)
        return entry

    # -- read side ----------------------------------------------------------

    def _gen_ids(self, gens) -> tuple[list, list]:
        """(added, deleted) id relations for a generation slice, read from
        the norms/ids sidecars (postings never decoded)."""
        added, deleted = [], []
        for g in gens:
            path = os.path.join(self._gen_dir(g["name"]),
                                "norms" if g["kind"] == "add" else "ids")
            r = self.spark.read.schema(
                _NORMS_SCHEMA if g["kind"] == "add" else _IDS_SCHEMA
            ).parquet(path).select("doc_id")
            (added if g["kind"] == "add" else deleted).append(r)
        return added, deleted

    def changes_between(self, g0: int, g1: int) -> DataFrame:
        """Snapshot diff (CDC over the generation history): (doc_id,
        change) for every document whose index visibility differs between
        ``as_of(g0)`` and ``as_of(g1)`` — the lineage answer to "what
        changed in the index since last week's training run?". Reads only
        the norms/ids sidecars of the generations involved; postings are
        never decoded. A doc both added and deleted inside the window
        nets to no row, and a deletion is reported only for docs that
        actually EXISTED at the g0 snapshot (a tombstone for a
        never-indexed doc is a no-op to both snapshots). "Existence" is
        index visibility — a document that tokenized to zero terms has no
        postings, is invisible to every query at every snapshot, and is
        therefore invisible to CDC too. Subject to the same history
        contract as ``as_of``: compaction expires it.
        """
        gens = self.manifest["gens"]
        if not 0 <= g0 <= g1 <= len(gens):
            raise ValueError(
                f"need 0 <= g0 <= g1 <= {len(gens)}, got ({g0}, {g1})")

        def _union(parts):
            if not parts:
                return self.spark.createDataFrame([], _IDS_SCHEMA)
            out = parts[0]
            for x in parts[1:]:
                out = out.unionByName(x)
            return out.distinct()

        w_add, w_del = map(_union, self._gen_ids(gens[g0:g1]))
        p_add, p_del = map(_union, self._gen_ids(gens[:g0]))
        existed_at_g0 = p_add.join(p_del, "doc_id", "left_anti")
        return (w_add.join(w_del, "doc_id", "left_anti")
                .select("doc_id", F.lit("added").alias("change"))
                .unionByName(
                    w_del.join(w_add, "doc_id", "left_anti")
                    .join(existed_at_g0, "doc_id", "left_semi")
                    .select("doc_id", F.lit("deleted").alias("change"))))

    def tombstones(self) -> DataFrame | None:
        """Union of all tombstoned doc_ids (None when no deletes exist)."""
        dels = [g for g in self.manifest["gens"] if g["kind"] == "delete"]
        if not dels:
            return None
        reads = [
            self.spark.read.schema(_IDS_SCHEMA)
            .parquet(os.path.join(self._gen_dir(g["name"]), "ids"))
            for g in dels
        ]
        out = reads[0]
        for r in reads[1:]:
            out = out.unionByName(r)
        return out.distinct()

    def merged_stats(self, terms: Sequence[str] | None = None) -> DataFrame:
        """(term, df, idf) under the live corpus — the signed sum of per-gen
        stats (term filter pushed to each parquet scan) crossed with the
        driver-side scalar counters. Identical math to ctfidf.term_stats."""
        st = self.status()
        parts = []
        for g in self.manifest["gens"]:
            r = self.spark.read.schema(_STATS_SCHEMA).parquet(
                os.path.join(self._gen_dir(g["name"]), "stats"))
            if terms is not None:
                r = r.filter(F.col("term").isin(list(terms)))
            sign = 1 if g["kind"] == "add" else -1
            parts.append(r.select("term", (F.col("df") * sign).alias("df")))
        if not parts or st["n_classes"] <= 0:
            return self.spark.createDataFrame(
                [], "term string, df long, idf double")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        dft = (out.groupBy("term").agg(F.sum("df").alias("df"))
               .filter(F.col("df") > 0))
        a = st["sum_len"] // st["n_classes"]  # floor(avg class_len), exact ints
        if self.cfg["bm25_weighting"]:
            arg = 1.0 + (F.lit(a) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            clamp = self.cfg["clamp"]
            if clamp is not None:
                arg = F.greatest(arg, F.lit(float(clamp)))
            idf = F.log(arg)
        else:
            idf = F.log(F.lit(a) / F.col("df") + 1.0)
        return dft.select("term", "df", idf.alias("idf"))

    def _segments(self, g: dict) -> SegmentTree:
        return SegmentTree(
            self.spark, os.path.join(self._gen_dir(g["name"]), "segments"),
            "blocks")

    def _pruned_candidates(self, terms: Sequence[str]) -> DataFrame | None:
        """(term, doc_id, tf, tfn32) decoded postings of the query's terms,
        read from only the buckets of each generation's tree that hold
        them."""
        adds = [g for g in self.manifest["gens"] if g["kind"] == "add"]
        if not adds:
            return None
        parts = [self._segments(g).scan(terms) for g in adds]
        blocks = parts[0]
        for p in parts[1:]:
            blocks = blocks.unionByName(p)
        return decode_blocks(blocks).withColumnRenamed("score", "tfn32")

    def norms(self) -> DataFrame:
        """(doc_id, doc_len) across add generations (doc ids are disjoint)."""
        adds = [g for g in self.manifest["gens"] if g["kind"] == "add"]
        reads = [
            self.spark.read.schema(_NORMS_SCHEMA)
            .parquet(os.path.join(self._gen_dir(g["name"]), "norms"))
            for g in adds
        ]
        if not reads:
            return self.spark.createDataFrame([], _NORMS_SCHEMA)
        out = reads[0]
        for r in reads[1:]:
            out = out.unionByName(r)
        return out

    def topk(self, query_terms: Mapping[int, Sequence[str]], k: int = 10,
             exact: bool = True, scorer: str = "ctfidf",
             k1: float = 1.2, b: float = 0.75) -> DataFrame:
        """(query_id, doc_id, score, rank) over the LIVE corpus — same
        output contract (and, on the exact path, float64 math) as
        operators/bm25.bm25_topk over a full rebuild of the survivors.

        exact=True joins the norms sidecar and recomputes tfn = tf/doc_len
        in float64 (gate/parity path). exact=False ranks on the stored
        float32 tfn — no norms join, the low-latency serving path (rank
        flips require two docs within ~1e-7 relative score, which the
        deterministic doc_id tie-break then resolves identically anyway).

        ``scorer``: "ctfidf" (BERTopic-parity class-based weighting, the
        default) or "okapi" (classical Okapi BM25 with ``k1``/``b`` —
        rank-identical to operators/bm25.okapi_bm25_topk over a rebuild
        of the survivors). ONE index serves both models because
        generations store idf-FREE postings: tf rides the payload, doc
        length rides the norms sidecar, document frequency of the query's
        terms falls out of the already-pruned candidate decode, and the
        live N / Σlen scalars are the signed manifest counters. Okapi
        always joins norms (its length normalization needs dl).

        100-TB note: the norms join keys on doc_id AFTER term/bucket pruning
        (candidates ≪ corpus); co-partition norms by doc_id//span if a
        profile ever shows that exchange dominating.
        """
        if scorer not in ("ctfidf", "okapi"):
            raise ValueError(f"unknown scorer {scorer!r}")
        all_terms = sorted({t for ts in query_terms.values() for t in ts})
        empty = self.spark.createDataFrame(
            [], "query_id long, doc_id long, score double, rank int")
        if not all_terms:
            return empty
        cand = self._pruned_candidates(all_terms)
        if cand is None:
            return empty
        tomb = self.tombstones()
        if tomb is not None:
            cand = cand.join(F.broadcast(tomb), "doc_id", "left_anti")
        if scorer == "okapi":
            st = self.status()
            if st["n_classes"] <= 0:
                return empty
            n = float(st["n_classes"])
            avgdl = st["sum_len"] / st["n_classes"]
            dfs = cand.groupBy("term").agg(
                F.count_distinct("doc_id").alias("df"))
            okapi_idf = F.log(F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5) /
                              (F.col("df") + 0.5))
            denom = (F.col("tf") + F.lit(k1) *
                     (F.lit(1.0 - b) +
                      F.lit(b) * F.col("doc_len") / F.lit(avgdl)))
            scored = (cand.join(self.norms(), "doc_id")
                      .join(F.broadcast(dfs.select(
                          "term", okapi_idf.alias("idf"))), "term")
                      .select("doc_id", "term",
                              (F.col("idf") * F.col("tf") *
                               F.lit(k1 + 1.0) / denom).alias("s")))
        else:
            idf = self.merged_stats(all_terms).select("term", "idf")
            if exact:
                cand = cand.join(self.norms(), "doc_id")
                tfn = self._tfn(F.col("tf"), F.col("doc_len"))
            else:
                tfn = F.col("tfn32")
            scored = (cand.join(F.broadcast(idf), "term")
                      .select("doc_id", "term", (tfn * F.col("idf")).alias("s")))
        qt = self.spark.createDataFrame(
            [(int(q), t) for q, ts in sorted(query_terms.items())
             for t in sorted(set(ts))],
            "query_id long, term string")
        hits = (scored.join(F.broadcast(qt), "term")
                .groupBy("query_id", "doc_id").agg(F.sum("s").alias("score")))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id"))
        return (hits.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "doc_id", "score", "rank"))

    def postings(self) -> DataFrame:
        """Live (term, doc_id, tf) long form — the audit/export relation."""
        adds = [g for g in self.manifest["gens"] if g["kind"] == "add"]
        if not adds:
            return self.spark.createDataFrame(
                [], "term string, doc_id long, tf long")
        parts = [decode_blocks(self._segments(g).scan()) for g in adds]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        tomb = self.tombstones()
        if tomb is not None:
            out = out.join(F.broadcast(tomb), "doc_id", "left_anti")
        return out.select("term", "doc_id", "tf")

    # -- maintenance --------------------------------------------------------

    def compact(self) -> dict:
        """Rewrite every generation into one: decode → drop tombstones →
        re-encode. No retokenization — doc_len is recovered EXACTLY as Σtf
        over each surviving doc's decoded postings (all terms are decoded
        here, unlike the query path), so compaction never touches the
        original corpus. Doc ids are preserved (blocks are id-range keyed;
        a sparse id space costs nothing)."""
        self._mutable()
        live = self.postings().persist()
        try:
            norms = live.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
            scores = (live.join(norms, "doc_id")
                      .select("doc_id", "term", "tf",
                              self._tfn(F.col("tf"), F.col("doc_len"))
                              .cast("float").cast("double").alias("score")))
            old = [g["name"] for g in self.manifest["gens"]]
            name = f"gen-{len(self.manifest['gens']):05d}"
            gdir = self._gen_dir(name)
            write_index_segments(
                build_block_index(scores, self.cfg["span"]),
                os.path.join(gdir, "segments"), self.cfg["n_buckets"])
            (live.groupBy("term").agg(F.sum("tf").alias("df"))
             .write.mode("overwrite").parquet(os.path.join(gdir, "stats")))
            norms.write.mode("overwrite").parquet(os.path.join(gdir, "norms"))
            s = live.agg(
                F.countDistinct("doc_id").alias("n_classes"),
                F.coalesce(F.sum("tf"), F.lit(0)).alias("sum_len"),
                F.min("doc_id").alias("id_min"),
                F.max("doc_id").alias("id_max"),
            ).collect()[0]
            prev_rows = (sum(g["n_rows"] for g in self.manifest["gens"]
                             if g["kind"] == "add")
                         - sum(g["n_rows"] for g in self.manifest["gens"]
                               if g["kind"] == "delete"))
            entry = {
                "name": name, "kind": "add",
                "n_rows": int(prev_rows),
                "n_classes": int(s["n_classes"]),
                "sum_len": int(s["sum_len"]),
                "id_min": None if s["id_min"] is None else int(s["id_min"]),
                "id_max": None if s["id_max"] is None else int(s["id_max"]),
            }
        finally:
            live.unpersist()
        self.manifest["gens"] = [entry]
        _write_manifest(self.root, self.manifest)
        for o in old:
            shutil.rmtree(self._gen_dir(o), ignore_errors=True)
        return entry
