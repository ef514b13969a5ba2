"""Incremental index maintenance: append / delete / compact over segment
generations, rank-identical to a full rebuild.

The reference rebuilds its model from scratch on new data (BERTopic's
``partial_fit`` recomputes c-TF-IDF over accumulated counts,
``_bertopic.py:703-760``); a 100-TB index cannot. This module is the
engine's Lucene-shaped answer, and it falls out of the scoring algebra:

    score(doc, term) = (tf / doc_len) * idf(term)        (operators/ctfidf.py)

A document's own tf and doc_len never change when OTHER documents are
added or removed; only the small per-term ``idf`` table does (df and the
int-truncated average length A are corpus-global). So:

* every **add generation** stores idf-free postings as a "gen_blocks"
  tree, in the one score-free layout of every scoring tree: the payload
  carries (doc gap, tf, document length) per posting (Lucene keeps norms
  in .nvd; here they are a varint stream of the block). Unlike a batch
  tree it stores no per-term weight, since idf moves with every
  generation. Beside it sit a per-term stats relation (term, df = Σtf,
  n_docs = documents holding the term) and a ``norms`` sidecar
  (doc_id, doc_len) for the id-collision check and ``changes_between``.
* every **delete generation** stores the tombstoned doc_ids plus the same
  stats relation computed over the deleted docs — a NEGATIVE delta.
* at query time the merged statistics are one signed sum over the per-gen
  stats (pruned to the query's terms, pushed to the parquet scan) and a
  driver-side sum of per-gen scalar counters. Spark computes each query
  term's idf from them, and the idf table (each block row's weight) and
  the tombstones go to the same top-k kernel that serves batch trees
  (segments._topk_over_scan), which scores every posting from its tf and
  doc length in float64 with the scorer batch trees use
  (segments.posting_scorer), in the operation order of the one-shot
  scorers. Top-k over
  (adds − deletes) therefore matches a rebuild over the surviving
  documents.

At 100 TB: an append touches only the new documents (one tokenize pass, one
(term, blk) shuffle over the NEW postings); a delete tokenizes only the
deleted documents; nothing ever rewrites existing segments until
``compact()`` — which is itself a single decode→filter→re-encode pass with
no retokenization (each posting carries its document's length), so
compaction never needs the original corpus.

Crash safety: generation directories are written first and the root
manifest (``gens.json``) is swapped last by a temp-file move, through the
root's own filesystem (a local path or a URI); a crashed append/delete
leaves an unreferenced directory, never a half-visible generation (same
contract as checkpoint.py's stage manifests).
"""

from __future__ import annotations

from typing import Mapping, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bertopic_spark.index.checkpoint import (read_manifest, remove_dir,
                                             write_manifest)
from bertopic_spark.index.segments import (
    DEFAULT_SPAN,
    N_TERM_BUCKETS,
    TOPK_SCHEMA,
    SegmentTree,
    _check_k,
    _topk_over_scan,
    assign_doc_ids,
    build_block_index,
    decode_blocks,
    verify_content_sha,
    write_tree,
)
from bertopic_spark.operators.ctfidf import DEFAULT_CLAMP
from bertopic_spark.operators.postings import doc_term_counts

_MANIFEST = "gens.json"
# the generation tree format; an index whose config names no format holds
# no document lengths in its blocks, and one whose trees hold them in a
# float64 value slot (no payload layout tag), must be rebuilt
GEN_FORMAT = "gen_blocks"
_STATS_SCHEMA = "term string, df long, n_docs long"
_NORMS_SCHEMA = "doc_id long, doc_len long"
_IDS_SCHEMA = "doc_id long"


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
        try:
            read_manifest(root, _MANIFEST)
        except FileNotFoundError:
            pass
        else:
            raise ValueError(f"index already exists at {root}")
        manifest = {
            "config": {
                "format": GEN_FORMAT,
                "mode": mode,
                "bm25_weighting": bool(bm25_weighting),
                "reduce_frequent_words": bool(reduce_frequent_words),
                "span": int(span),
                "n_buckets": int(n_buckets),
                "clamp": clamp,
            },
            "gens": [],
        }
        write_manifest(root, manifest, _MANIFEST)
        return cls(spark, root, manifest)

    @classmethod
    def open(cls, spark: SparkSession, root: str) -> "IncrementalIndex":
        manifest = read_manifest(root, _MANIFEST)
        found = manifest["config"].get("format")
        if found != GEN_FORMAT:
            raise ValueError(
                f"{root}: generations in format {found!r}, not {GEN_FORMAT!r} "
                "(written before postings carried their document length); "
                "rebuild the index")
        index = cls(spark, root, manifest)
        for g in manifest["gens"]:  # a tree in another layout raises
            if g["kind"] == "add":
                SegmentTree(spark, index._gen_dir(g["name"], "segments"),
                            GEN_FORMAT)
        return index

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

    def _gen_dir(self, name: str, part: str = "") -> str:
        return f"{self.root.rstrip('/')}/{name}" + (f"/{part}" if part else "")

    def _next_name(self, kind: str) -> str:
        n = len(self.manifest["gens"])
        return f"{'gen' if kind == 'add' else 'del'}-{n:05d}"

    def _next_id_base(self) -> int:
        mx = -1
        for g in self.manifest["gens"]:
            if g["kind"] == "add" and g.get("id_max") is not None:
                mx = max(mx, int(g["id_max"]))
        return mx + 1

    def _counts(self, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        x = doc_term_counts(df, text_col, [id_col], self.cfg["mode"],
                            with_len=True)
        if id_col != "doc_id":
            x = x.withColumnRenamed(id_col, "doc_id")
        return x

    def _write_stats(self, gdir: str, x: DataFrame):
        """The per-term stats (term, df = Σtf, n_docs) of (doc_id, term,
        tf, doc_len) rows, written under ``gdir``; returns the rows'
        scalar counters (n_classes, sum_len, id_min, id_max)."""
        (x.groupBy("term")
         .agg(F.sum("tf").alias("df"), F.count(F.lit(1)).alias("n_docs"))
         .write.mode("overwrite").parquet(f"{gdir}/stats"))
        return x.agg(
            F.countDistinct("doc_id").alias("n_classes"),
            F.coalesce(F.sum("tf"), F.lit(0)).alias("sum_len"),
            F.min("doc_id").alias("id_min"),
            F.max("doc_id").alias("id_max"),
        ).collect()[0]

    def _write_add(self, gdir: str, x: DataFrame):
        """An add generation from (doc_id, term, tf, doc_len) rows: its
        "gen_blocks" tree (unweighted blocks), its norms and its stats;
        returns the scalar counters."""
        blocks = build_block_index(x.select("doc_id", "term", "tf", "doc_len"),
                                   self.cfg["span"])
        write_tree(blocks, f"{gdir}/segments", GEN_FORMAT,
                   self.cfg["n_buckets"])
        (x.groupBy("doc_id").agg(F.max("doc_len").alias("doc_len"))
         .write.mode("overwrite").parquet(f"{gdir}/norms"))
        return self._write_stats(gdir, x)

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
            s = self._write_add(self._gen_dir(name), x)
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
        write_manifest(self.root, self.manifest, _MANIFEST)
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
            s = self._write_stats(gdir, x)
            ids.write.mode("overwrite").parquet(f"{gdir}/ids")
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
        write_manifest(self.root, self.manifest, _MANIFEST)
        return entry

    # -- read side ----------------------------------------------------------

    def _gen_ids(self, gens) -> tuple[list, list]:
        """(added, deleted) id relations for a generation slice, read from
        the norms/ids sidecars (postings never decoded)."""
        added, deleted = [], []
        for g in gens:
            path = self._gen_dir(g["name"],
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

        def ids(parts):
            if not parts:
                return self.spark.createDataFrame([], _IDS_SCHEMA)
            return _union(parts).distinct()

        w_add, w_del = map(ids, self._gen_ids(gens[g0:g1]))
        p_add, p_del = map(ids, self._gen_ids(gens[:g0]))
        existed_at_g0 = p_add.join(p_del, "doc_id", "left_anti")
        return (w_add.join(w_del, "doc_id", "left_anti")
                .select("doc_id", F.lit("added").alias("change"))
                .unionByName(
                    w_del.join(w_add, "doc_id", "left_anti")
                    .join(existed_at_g0, "doc_id", "left_semi")
                    .select("doc_id", F.lit("deleted").alias("change"))))

    def tombstones(self) -> DataFrame | None:
        """Union of all tombstoned doc_ids (None when no deletes exist).
        Distinct without a shuffle: each delete generation stores distinct
        ids and ``delete`` refuses an id that is already tombstoned."""
        reads = [self.spark.read.schema(_IDS_SCHEMA)
                 .parquet(self._gen_dir(g["name"], "ids"))
                 for g in self.manifest["gens"] if g["kind"] == "delete"]
        return _union(reads) if reads else None

    def merged_stats(self, terms: Sequence[str] | None = None) -> DataFrame:
        """(term, df, n_docs, idf) under the live corpus — the signed sum of
        per-gen stats (term filter pushed to each parquet scan) crossed
        with the driver-side scalar counters. Identical math to
        ctfidf.term_stats."""
        st = self.status()
        parts = []
        for g in self.manifest["gens"]:
            r = self.spark.read.schema(_STATS_SCHEMA).parquet(
                self._gen_dir(g["name"], "stats"))
            if terms is not None:
                r = r.filter(F.col("term").isin(list(terms)))
            sign = 1 if g["kind"] == "add" else -1
            parts.append(r.select("term", *[(F.col(c) * sign).alias(c)
                                            for c in ("df", "n_docs")]))
        if not parts or st["n_classes"] <= 0:
            return self.spark.createDataFrame(
                [], "term string, df long, n_docs long, idf double")
        dft = (_union(parts).groupBy("term")
               .agg(F.sum("df").alias("df"), F.sum("n_docs").alias("n_docs"))
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
        return dft.select("term", "df", "n_docs", idf.alias("idf"))

    def _scan(self, terms: Sequence[str] | None = None) -> DataFrame | None:
        """The blocks of ``terms`` (all blocks when None) across add
        generations, read from only the buckets of each generation's tree
        that hold them; None when there is no add generation."""
        adds = [g for g in self.manifest["gens"] if g["kind"] == "add"]
        if not adds:
            return None
        return _union([SegmentTree(self.spark,
                                   self._gen_dir(g["name"], "segments"),
                                   GEN_FORMAT).scan(terms) for g in adds])

    def norms(self) -> DataFrame:
        """(doc_id, doc_len) across add generations (doc ids are disjoint)."""
        reads = [self.spark.read.schema(_NORMS_SCHEMA)
                 .parquet(self._gen_dir(g["name"], "norms"))
                 for g in self.manifest["gens"] if g["kind"] == "add"]
        if not reads:
            return self.spark.createDataFrame([], _NORMS_SCHEMA)
        return _union(reads)

    def topk(self, query_terms: Mapping[int, Sequence[str]], k: int = 10,
             scorer: str = "ctfidf", k1: float = 1.2,
             b: float = 0.75) -> DataFrame:
        """(query_id, doc_id, score, rank) over the LIVE corpus — the output
        contract of operators/bm25.bm25_topk over a full rebuild of the
        survivors, scores in float64, ties broken by doc_id ascending.

        The query's blocks from every add generation go to the same top-k
        kernel as ``serve_topk`` (segments._topk_over_scan). Spark computes
        the idf of the query's terms from the merged stats; the idf table
        (the weight of each block row) and the sorted tombstones ride in
        the kernel's closure, which scores each posting from its tf and
        the document length stored beside it with ``posting_scorer``, and
        drops tombstoned docs before the per-doc sum.

        ``scorer``: "ctfidf" (BERTopic-parity class-based weighting, the
        default: ``(tf / dl)``, its sqrt under ``reduce_frequent_words``,
        times idf) or "okapi" (classical Okapi BM25 with ``k1``/``b`` —
        rank-identical to operators/bm25.okapi_bm25_topk over a rebuild of
        the survivors, its df from the stats' n_docs and its N / avgdl
        from the signed manifest counters). Each is evaluated in the
        operation order of its one-shot scorer. ONE index serves both
        models because generations store idf-free postings.
        """
        _check_k(k)
        if scorer not in ("ctfidf", "okapi"):
            raise ValueError(f"unknown scorer {scorer!r}")
        all_terms = sorted({t for ts in query_terms.values() for t in ts})
        scan = self._scan(all_terms) if all_terms else None
        st = self.status()
        if scan is None or st["n_classes"] <= 0:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        idf_col = F.col("idf")
        if scorer == "okapi":  # bm25.okapi_bm25_topk's idf
            idf_col = F.log(F.lit(1.0) + (F.lit(float(st["n_classes"])) -
                                          F.col("n_docs") + 0.5) /
                            (F.col("n_docs") + 0.5))
        idf = {r["term"]: r["idf"] for r in self.merged_stats(all_terms)
               .select("term", idf_col.alias("idf")).collect()}
        tomb = self.tombstones()
        mask = None if tomb is None else np.unique(
            np.array([r["doc_id"] for r in tomb.collect()], np.int64))
        if scorer == "okapi":
            params = {"scorer": scorer, "k1": k1, "b": b,
                      "avgdl": st["sum_len"] / st["n_classes"]}
        else:
            params = {"scorer": scorer, "reduce_frequent_words":
                      self.cfg["reduce_frequent_words"]}
        # only terms with live postings have an idf; the rest score nothing
        live = {q: [t for t in ts if t in idf] for q, ts in query_terms.items()}
        return _topk_over_scan(scan, live, k, idf, params, mask)

    def _live(self) -> DataFrame | None:
        """Live (term, doc_id, tf, doc_len) postings: every add generation
        decoded, tombstoned docs dropped; None when there is no add
        generation."""
        scan = self._scan()
        if scan is None:
            return None
        out = decode_blocks(scan)
        tomb = self.tombstones()
        if tomb is not None:
            out = out.join(F.broadcast(tomb), "doc_id", "left_anti")
        return out

    def postings(self) -> DataFrame:
        """Live (term, doc_id, tf) long form — the audit/export relation."""
        live = self._live()
        if live is None:
            return self.spark.createDataFrame(
                [], "term string, doc_id long, tf long")
        return live.select("term", "doc_id", "tf")

    # -- maintenance --------------------------------------------------------

    def compact(self) -> dict:
        """Rewrite every generation into one: decode → drop tombstones →
        re-encode. No retokenization — every posting carries its
        document's length, so compaction never touches the original
        corpus. Doc ids are preserved (blocks are id-range keyed; a sparse
        id space costs nothing)."""
        self._mutable()
        gens = self.manifest["gens"]
        live = self._live()
        if live is None:
            live = self.spark.createDataFrame(
                [], "term string, doc_id long, tf long, doc_len long")
        live = live.persist()
        try:
            name = f"gen-{len(gens):05d}"
            s = self._write_add(self._gen_dir(name), live)
            entry = {
                "name": name, "kind": "add",
                "n_rows": self.status()["live_docs"],
                "n_classes": int(s["n_classes"]),
                "sum_len": int(s["sum_len"]),
                "id_min": None if s["id_min"] is None else int(s["id_min"]),
                "id_max": None if s["id_max"] is None else int(s["id_max"]),
            }
        finally:
            live.unpersist()
        old = [g["name"] for g in gens]
        self.manifest["gens"] = [entry]
        write_manifest(self.root, self.manifest, _MANIFEST)
        for o in old:
            remove_dir(self._gen_dir(o))
        return entry


def _union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
