"""Positional index segments: the persisted (doc_id, term, pos) relation
behind phrase / proximity / boolean queries, written and read as a
term-bucketed tree exactly like the scoring segments (segments.write_tree
and segments.SegmentTree), so a query's terms prune to ≤ |q| directory
buckets + parquet term min/max row-group stats, and readers take the
bucket count and block span from the tree itself.

Lucene stores positions next to postings; here they are a SEPARATE parquet
tree — the scoring path never pays for positions it doesn't read, and the
positional tree is only scanned by the operators that need adjacency
(`phrase_match_postings`, `proximity_match_postings`,
`*_match_postings`). Delta-encoding positions into the block codec
(index/blocks.py) is the next compression step; the relation contract here
is what the query operators consume either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bertopic_spark.index.segments import (N_TERM_BUCKETS, SegmentTree,
                                           payload_format, tag_payload,
                                           write_tree)


def write_positions(positions: DataFrame, path: str,
                    n_buckets: int = N_TERM_BUCKETS) -> dict:
    """Persist a (doc_id, term, pos) relation as a "positions" tree,
    sorted by (term, doc_id, pos) within files for row-group pruning and
    run-length-friendly encoding."""
    return write_tree(
        positions.select(F.col("doc_id").cast("long"), "term",
                         F.col("pos").cast("int")),
        path, "positions", n_buckets)


def read_positions(spark, path: str, terms) -> DataFrame:
    """Pruned positional scan for a term set: the tree's buckets are
    computed DRIVER-SIDE (pure-Python XXH64, bit-identical to the writer —
    no Spark job to plan the scan), term equality pushes to parquet."""
    ts = sorted(set(str(t) for t in terms))
    if not ts:
        raise ValueError("need at least one term")
    return (SegmentTree(spark, path, "positions").scan(ts)
            .select("doc_id", "term", "pos"))


# ---------------------------------------------------------------------------
# Compressed positional blocks: delta+varint, same (term, blk) range-aligned
# grid as the scoring blocks (index/blocks.py layout rationale applies —
# the composite key is the skew handling).
# ---------------------------------------------------------------------------

import numpy as np
import pandas as pd
from pyspark.sql.types import BinaryType

from bertopic_spark.index.blocks import (DEFAULT_SPAN, _varint_decode_np,
                                         _varint_encode_np)


def encode_pos_block(doc_ids, counts, flat_pos, range_start: int) -> bytes:
    """Payload = varint(doc-id deltas vs range_start) ‖ varint(per-doc
    position counts) ‖ varint(per-doc delta-encoded positions, first
    absolute). Fully numpy-vectorized; byte-deterministic."""
    ids = np.asarray(doc_ids, dtype=np.int64)
    cts = np.asarray(counts, dtype=np.int64)
    ps = np.asarray(flat_pos, dtype=np.int64)
    id_deltas = np.diff(ids, prepend=np.int64(range_start))
    # per-doc position deltas without a Python loop: subtract the previous
    # position everywhere, then restore each run's first value to absolute
    pd_ = np.diff(ps, prepend=np.int64(0))
    starts = np.zeros(len(cts), dtype=np.int64)
    if len(cts) > 1:
        starts[1:] = np.cumsum(cts[:-1])
    pd_[starts] = ps[starts]
    return (_varint_encode_np(id_deltas) + _varint_encode_np(cts)
            + _varint_encode_np(pd_))


def decode_pos_block(payload: bytes, range_start: int, n_docs: int,
                     n_pos: int):
    """Inverse of encode_pos_block → (doc_ids, counts, flat_positions)."""
    buf = np.frombuffer(payload, dtype=np.uint8)
    id_deltas, off = _varint_decode_np(buf, 0, n_docs)
    cts, off = _varint_decode_np(buf, off, n_docs)
    pd_, _ = _varint_decode_np(buf, off, n_pos)
    id_deltas = np.asarray(id_deltas, dtype=np.int64)
    cts = np.asarray(cts, dtype=np.int64)
    pd_ = np.asarray(pd_, dtype=np.int64)
    ids = np.cumsum(id_deltas) + range_start
    ps = np.cumsum(pd_)
    starts = np.zeros(n_docs, dtype=np.int64)
    if n_docs > 1:
        starts[1:] = np.cumsum(cts[:-1])
    # undo the cross-run cumsum carry: subtract, per run, the carry-in
    carry = ps[starts - 1] if n_docs > 0 else np.array([], dtype=np.int64)
    if n_docs > 0:
        carry = np.where(starts > 0, carry, 0)
        ps = ps - np.repeat(carry, cts)
    return ids, cts.astype(np.int64), ps


def build_pos_blocks(positions: DataFrame,
                     span: int = DEFAULT_SPAN) -> DataFrame:
    """(term, blk, n_docs, n_pos, payload) from a (doc_id, term, pos)
    relation — one shuffle on the range-aligned (term, blk) key; the
    varint pack runs vectorized over JVM-pre-grouped arrays (the same
    plan shape the scoring-block build measured fastest)."""

    # JVM-side struct-field extraction hands the UDF plain numpy arrays per
    # block (the same trick as segments.build_block_index) — the Python
    # side never touches a per-position dict/row object
    @F.pandas_udf(BinaryType())
    def enc(blk: pd.Series, ids: pd.Series, ps: pd.Series) -> pd.Series:
        out = []
        for b, i, p in zip(blk, ids, ps):
            i = np.asarray(i, dtype=np.int64)
            p = np.asarray(p, dtype=np.int64)
            uids, cts = np.unique(i, return_counts=True)
            out.append(encode_pos_block(uids, cts, p, int(b) * span))
        return pd.Series(out)

    grouped = (positions
               .withColumn("blk", (F.col("doc_id") / span).cast("long"))
               .groupBy("term", "blk")
               .agg(F.count_distinct("doc_id").alias("n_docs"),
                    F.count(F.lit(1)).alias("n_pos"),
                    F.sort_array(F.collect_list(
                        F.struct("doc_id", "pos"))).alias("pl")))
    payload = enc(F.col("blk"), F.col("pl.doc_id"), F.col("pl.pos"))
    return (grouped.withColumn("payload",
                               tag_payload(payload, span, "pos_varint"))
            .drop("pl"))


def write_pos_segments(blocks: DataFrame, path: str,
                       n_buckets: int = N_TERM_BUCKETS) -> dict:
    """Persist ``build_pos_blocks`` output as a "pos_blocks" tree."""
    return write_tree(blocks, path, "pos_blocks", n_buckets)


def read_pos_segments(spark, path: str, terms) -> DataFrame:
    """Pruned + decoded positional scan: (doc_id, term, pos). Buckets
    driver-side, term pushed to parquet, payloads decode in Arrow batches
    (numpy cumsums, no per-position Python); the span comes from the
    payload tag."""
    ts = sorted(set(str(t) for t in terms))
    if not ts:
        raise ValueError("need at least one term")
    df = SegmentTree(spark, path, "pos_blocks").scan(ts)
    span, _ = payload_format(df)

    def gen(batches):
        for b in batches:
            pdf = b
            rows = {"doc_id": [], "term": [], "pos": []}
            for term, blk, nd, npos, payload in zip(
                    pdf["term"], pdf["blk"], pdf["n_docs"], pdf["n_pos"],
                    pdf["payload"]):
                ids, cts, ps = decode_pos_block(payload, int(blk) * span,
                                                int(nd), int(npos))
                rows["doc_id"].append(np.repeat(ids, cts))
                rows["term"].append(np.full(int(npos), term, dtype=object))
                rows["pos"].append(ps)
            if rows["doc_id"]:
                yield pd.DataFrame({
                    "doc_id": np.concatenate(rows["doc_id"]),
                    "term": np.concatenate(rows["term"]),
                    "pos": np.concatenate(rows["pos"]).astype(np.int32)})

    return df.mapInPandas(gen, "doc_id long, term string, pos int")


# ---------------------------------------------------------------------------
# Generational maintenance for the positional tree — the phrase-path analog
# of index/incremental.IncrementalIndex.
# ---------------------------------------------------------------------------

from bertopic_spark.index.checkpoint import (read_manifest, remove_dir,
                                             write_manifest)

_POS_MANIFEST = "_POS_MANIFEST.json"


class IncrementalPositions:
    """Segment-generation positional index: append / delete / compact /
    as_of, serving (doc_id, term, pos) for the phrase/proximity/span
    operators.

    Simpler than the scoring index's maintenance (incremental.py): the
    positional relation carries NO corpus-level statistics (no idf, no
    avgdl), so a DELETE is an id tombstone alone — nothing to subtract —
    and rebuild-equality holds by construction: read() = union of add
    generations minus tombstoned ids, which IS the positional relation of
    the surviving corpus. Appends are O(new docs) (one tokenize +
    bucketed write); the manifest is the only state, so any session
    reopens it, and as_of(n) prefix views are free. Appended doc ids must
    be new: an exact collision check against the per-generation ids
    sidecars (new batch broadcast, sidecars stream) raises — colliding
    ids would interleave two documents' token streams and corrupt
    adjacency.
    """

    def __init__(self, spark, root: str, manifest: dict):
        self.spark, self.root, self.manifest = spark, root, manifest
        self._frozen = False

    # -- lifecycle --

    @classmethod
    def create(cls, spark, root: str, mode: str = "ascii_code",
               n_buckets: int = N_TERM_BUCKETS) -> "IncrementalPositions":
        try:
            read_manifest(root, _POS_MANIFEST)
        except FileNotFoundError:
            pass
        else:
            raise ValueError(f"positional index already exists at {root}")
        m = {"config": {"mode": mode, "n_buckets": int(n_buckets)},
             "gens": []}
        cls._write(root, m)
        return cls(spark, root, m)

    @classmethod
    def open(cls, spark, root: str) -> "IncrementalPositions":
        return cls(spark, root, read_manifest(root, _POS_MANIFEST))

    @staticmethod
    def _write(root: str, manifest: dict) -> None:
        write_manifest(root, manifest, _POS_MANIFEST)

    def _dir(self, name: str, part: str) -> str:
        return f"{self.root.rstrip('/')}/{name}/{part}"

    def _mutable(self) -> None:
        if self._frozen:
            raise ValueError("read-only as_of() view; open the live index")

    def as_of(self, n_gens: int) -> "IncrementalPositions":
        gens = self.manifest["gens"]
        if not 0 <= n_gens <= len(gens):
            raise ValueError(f"as_of({n_gens}): index has {len(gens)} gens")
        m = {"config": self.manifest["config"], "gens": list(gens[:n_gens])}
        view = IncrementalPositions(self.spark, self.root, m)
        view._frozen = True
        return view

    def status(self) -> dict:
        gens = self.manifest["gens"]
        adds = [g for g in gens if g["kind"] == "add"]
        dels = [g for g in gens if g["kind"] == "delete"]
        return {"generations": len(gens), "adds": len(adds),
                "deletes": len(dels),
                "live_docs": sum(g["n_docs"] for g in adds)
                - sum(g["n_docs"] for g in dels)}

    # -- mutation --

    def append(self, df: DataFrame, text_col: str = "content",
               id_col: str = "doc_id") -> dict:
        self._mutable()
        from bertopic_spark.operators.fulltext import doc_term_positions

        agg = df.agg(F.count(F.lit(1)).alias("n"),
                     F.min(id_col).alias("lo"),
                     F.max(id_col).alias("hi")).collect()[0]
        if agg["n"] == 0:
            raise ValueError("append of zero documents")
        lo, hi = int(agg["lo"]), int(agg["hi"])
        new_ids = (df.select(F.col(id_col).cast("long").alias("doc_id"))
                   .distinct())
        prior = self._gen_ids()
        if prior is not None:
            # exact collision check against the per-generation ids
            # sidecars — colliding ids would interleave two documents'
            # token streams and corrupt adjacency. The NEW batch
            # broadcasts (appends ≪ index), the sidecars stream.
            dup = prior.join(F.broadcast(new_ids), "doc_id").count()
            if dup:
                raise ValueError(f"{dup} doc ids already exist in the index")
        name = f"pgen-{len(self.manifest['gens']):05d}"
        pos = doc_term_positions(
            df.withColumnRenamed(id_col, "doc_id"), text_col, "doc_id",
            self.manifest["config"]["mode"])
        write_positions(pos, self._dir(name, "positions"),
                        self.manifest["config"]["n_buckets"])
        new_ids.write.mode("overwrite").parquet(
            self._dir(name, "ids"))
        entry = {"name": name, "kind": "add", "n_docs": int(agg["n"]),
                 "id_min": lo, "id_max": hi}
        self.manifest["gens"].append(entry)
        self._write(self.root, self.manifest)
        return entry

    def delete(self, ids) -> dict:
        """Tombstone doc ids (a list or a 1-column DataFrame). No content
        needed — positions carry no global statistics to subtract."""
        self._mutable()
        if isinstance(ids, DataFrame):
            ids_df = ids.select(F.col(ids.columns[0]).cast("long")
                                .alias("doc_id")).distinct()
        else:
            ids_df = self.spark.createDataFrame(
                [(int(i),) for i in ids], "doc_id long").distinct()
        prior = self.tombstones()
        if prior is not None:
            dup = ids_df.join(prior, "doc_id").count()
            if dup:
                raise ValueError(f"{dup} doc ids already tombstoned")
        n = ids_df.count()
        if n == 0:
            raise ValueError("delete of zero ids")
        name = f"pdel-{len(self.manifest['gens']):05d}"
        ids_df.write.mode("overwrite").parquet(
            self._dir(name, "ids"))
        entry = {"name": name, "kind": "delete", "n_docs": int(n)}
        self.manifest["gens"].append(entry)
        self._write(self.root, self.manifest)
        return entry

    # -- read side --

    def _gen_ids(self) -> DataFrame | None:
        """Union of the add generations' ids sidecars (doc_id long)."""
        adds = [g for g in self.manifest["gens"] if g["kind"] == "add"]
        if not adds:
            return None
        parts = [self.spark.read.schema("doc_id long").parquet(
            self._dir(g["name"], "ids")) for g in adds]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    def tombstones(self) -> DataFrame | None:
        dels = [g for g in self.manifest["gens"] if g["kind"] == "delete"]
        if not dels:
            return None
        parts = [self.spark.read.schema("doc_id long").parquet(
            self._dir(g["name"], "ids")) for g in dels]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out.distinct()

    def read(self, terms) -> DataFrame:
        """Pruned (doc_id, term, pos) across live generations: per-gen
        bucket/term-pruned scans unioned, tombstones anti-joined (the
        tombstone set is editorial-sized and broadcasts). Feeds every
        ``*_match_postings`` operator unchanged."""
        adds = [g for g in self.manifest["gens"] if g["kind"] == "add"]
        if not adds:
            return self.spark.createDataFrame(
                [], "doc_id long, term string, pos int")
        parts = [read_positions(
            self.spark, self._dir(g["name"], "positions"),
            terms) for g in adds]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        tomb = self.tombstones()
        if tomb is not None:
            out = out.join(F.broadcast(tomb), "doc_id", "left_anti")
        return out

    def compact(self) -> dict:
        """Rewrite live rows into ONE generation; old dirs removed
        (snapshot expiry — as_of points before the compact are gone)."""
        self._mutable()
        adds = [g for g in self.manifest["gens"] if g["kind"] == "add"]
        if not adds:
            raise ValueError("nothing to compact")
        nb = self.manifest["config"]["n_buckets"]
        parts = [SegmentTree(self.spark,
                             self._dir(g["name"], "positions"),
                             "positions").scan()
                 .select("doc_id", "term", "pos") for g in adds]
        live = parts[0]
        for p in parts[1:]:
            live = live.unionAll(p)
        tomb = self.tombstones()
        if tomb is not None:
            live = live.join(F.broadcast(tomb), "doc_id", "left_anti")
        name = f"pgen-c{len(self.manifest['gens']):05d}"
        write_positions(live, self._dir(name, "positions"), nb)
        live_ids = self._gen_ids()
        tomb2 = self.tombstones()
        if tomb2 is not None:
            live_ids = live_ids.join(F.broadcast(tomb2), "doc_id",
                                     "left_anti")
        live_ids = live_ids.persist()
        live_ids.write.mode("overwrite").parquet(
            self._dir(name, "ids"))
        span = live_ids.agg(F.count(F.lit(1)).alias("n"),
                            F.min("doc_id").alias("lo"),
                            F.max("doc_id").alias("hi")).collect()[0]
        live_ids.unpersist()
        old = [g["name"] for g in self.manifest["gens"]]
        entry = {"name": name, "kind": "add",
                 "n_docs": 0 if span["n"] is None else int(span["n"]),
                 "id_min": 0 if span["lo"] is None else int(span["lo"]),
                 "id_max": 0 if span["hi"] is None else int(span["hi"])}
        self.manifest["gens"] = [entry]
        self._write(self.root, self.manifest)
        for nm in old:
            remove_dir(f"{self.root.rstrip('/')}/{nm}")
        return entry
