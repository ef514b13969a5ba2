"""Checkpoint/lineage/resume (north rule): kill-resume equality, stage
skipping, sha256 per-row invariant."""

import json
import os
import shutil

import pytest

from bertopic_spark.index.checkpoint import IndexBuild, df_fingerprint
from bertopic_spark.index.segments import assign_doc_ids, decode_blocks


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "index")


def _decoded(spark, blocks_df):
    return {
        (r["term"], r["doc_id"]): (r["tf"], round(r["score"], 12))
        for r in decode_blocks(blocks_df).collect()
    }


def test_build_resume_and_equality(spark, corpus_df, root):
    b = IndexBuild(spark, root)
    blocks1 = b.build(corpus_df)
    full = _decoded(spark, blocks1)
    st = b.status()
    assert all(st[s] is not None for s in IndexBuild.STAGES)

    # simulate a crash after the postings stage: blocks output lost
    shutil.rmtree(os.path.join(root, "blocks"))
    docids_manifest = os.path.join(root, "docids", "_MANIFEST.json")
    mtime_before = os.path.getmtime(docids_manifest)

    blocks2 = IndexBuild(spark, root).build(corpus_df)
    assert _decoded(spark, blocks2) == full  # content-identical after resume
    # earlier stages were skipped, not recomputed
    assert os.path.getmtime(docids_manifest) == mtime_before


def test_stage_skip_on_same_input(spark, corpus_df, root):
    b = IndexBuild(spark, root)
    b.build(corpus_df)
    m = json.load(open(os.path.join(root, "blocks", "_MANIFEST.json")))
    created = m["created_utc"]
    b.build(corpus_df)  # no-op: fingerprints unchanged
    m2 = json.load(open(os.path.join(root, "blocks", "_MANIFEST.json")))
    assert m2["created_utc"] == created


def test_input_change_triggers_rebuild(spark, corpus_df, root):
    b = IndexBuild(spark, root)
    b.build(corpus_df.limit(100))
    m = json.load(open(os.path.join(root, "docids", "_MANIFEST.json")))
    b2 = IndexBuild(spark, root)
    b2.build(corpus_df.limit(120))
    m2 = json.load(open(os.path.join(root, "docids", "_MANIFEST.json")))
    assert m["input_fingerprint"] != m2["input_fingerprint"]
    assert m2["rows"] == 120


def test_sha_invariant_rejects_corruption(spark, corpus_df, root):
    from pyspark.sql import functions as F

    corrupted = corpus_df.withColumn(
        "content",
        F.when(F.col("doc_id") == 7, F.lit("tampered")).otherwise(F.col("content")),
    )
    with pytest.raises(ValueError, match="sha mismatch on 1 rows"):
        IndexBuild(spark, str(root) + "_c").build(corrupted)


def test_null_natural_key_fails_loudly(spark, corpus_df, root):
    """A NULL in (repo, path, commit) survives distinct() (the map
    cardinality still matches the corpus count) but falls out of the
    equi-join (NULL != NULL) — the build must raise up front instead of
    silently dropping the row from the postings."""
    from pyspark.sql import functions as F

    nulled = corpus_df.withColumn(
        "path",
        F.when(F.col("doc_id") == 7, F.lit(None)).otherwise(F.col("path")),
    )
    with pytest.raises(ValueError, match="NULL natural key .* on 1 rows"):
        IndexBuild(spark, str(root) + "_n").build(nulled)


def test_duplicate_natural_key_fails_loudly(spark, corpus_df, root):
    """A duplicated (repo, path, commit) would multiply corpus rows
    through the key→id map join — caught by the map-cardinality check."""
    dup = corpus_df.unionByName(corpus_df.limit(1))
    with pytest.raises(ValueError, match="not unique"):
        IndexBuild(spark, str(root) + "_d").build(dup)


def test_manifest_lineage_fields(spark, corpus_df, root):
    IndexBuild(spark, root).build(corpus_df)
    m = json.load(open(os.path.join(root, "postings", "_MANIFEST.json")))
    assert m["rows"] > 0 and m["n_partitions"] >= 1
    assert all("rows" in p and "file" in p for p in m["partitions"])
    assert m["bytes"] > 0


def test_assign_doc_ids_deterministic_dense(spark, corpus_df):
    a = assign_doc_ids(corpus_df.drop("doc_id"), ["repo", "path", "commit"], 4)
    b = assign_doc_ids(corpus_df.drop("doc_id").repartition(13), ["repo", "path", "commit"], 9)
    ga = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in a.collect()}
    gb = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in b.collect()}
    assert ga == gb
    ids = sorted(ga.values())
    assert ids == list(range(len(ids)))  # dense 0..n-1
    # matches the natural-key sort order
    by_key = sorted(ga)
    assert [ga[k] for k in by_key] == list(range(len(by_key)))


def test_param_change_triggers_rebuild(spark, corpus_df, root):
    """Stage gates are derived fingerprints hash(input_fp, stage, params):
    a tokenizer-mode change must rebuild postings+blocks, a span change
    blocks only — without any content re-scan of the stage outputs."""
    IndexBuild(spark, root, mode="ascii_code").build(corpus_df)

    b2 = IndexBuild(spark, root, mode="code_aware")
    b2.build(corpus_df)
    assert b2.timings["stage_docids"] < b2.timings["stage_postings"]
    m = json.load(open(os.path.join(root, "postings", "_MANIFEST.json")))
    assert "code_aware" not in m["input_fingerprint"]  # opaque hash, no rescan

    b3 = IndexBuild(spark, root, mode="code_aware", span=1024)
    blocks = b3.build(corpus_df)
    # blocks rebuilt at the new span: no block may exceed it
    from pyspark.sql import functions as F
    assert blocks.agg(F.max("n_docs")).collect()[0][0] <= 1024
    # postings untouched on the span-only change
    m2 = json.load(open(os.path.join(root, "postings", "_MANIFEST.json")))
    assert m2["input_fingerprint"] == m["input_fingerprint"]


def test_index_dictionary_matches_live(spark, tmp_path):
    from bertopic_spark.corpus import load_corpus
    from bertopic_spark.index.checkpoint import IndexBuild, index_dictionary
    from bertopic_spark.operators.fulltext import term_dictionary

    corpus = load_corpus(spark, n_files=120, seed=42)
    root = str(tmp_path / "idx")
    IndexBuild(spark, root, mode="ascii_code").build(corpus)
    got = {(r.term, r.df) for r in index_dictionary(spark, root).collect()}
    want = {(r.term, r.df) for r in
            term_dictionary(corpus, "content", "doc_id").collect()}
    assert got == want and got


def test_empty_partitioned_stage_is_valid(spark, tmp_path):
    """Spark writes only _SUCCESS for an empty partitioned frame: that is
    an empty stage (an empty corpus gives an empty, servable tree)."""
    from bertopic_spark.index.checkpoint import write_stage

    seg = str(tmp_path / "empty")
    empty = spark.createDataFrame([], "term string, bucket int")
    m = write_stage(empty, seg, "t", None, partition_cols=["bucket"])
    assert not any(f.endswith(".parquet") for _, _, fs in os.walk(seg) for f in fs)
    assert m["rows"] == 0 and m["partitions"] == []


def test_no_files_and_no_success_marker_raises(tmp_path):
    """A directory with neither parquet files nor _SUCCESS is a failed
    write or the wrong filesystem, never an empty stage."""
    from bertopic_spark.index.checkpoint import _footer_lineage

    bare = tmp_path / "bare"
    bare.mkdir()
    (bare / "stray.txt").write_text("x")
    with pytest.raises(FileNotFoundError, match="bare"):
        _footer_lineage(str(bare))


def test_pre_tag_blocks_checkpoint_is_not_resumed(spark, tmp_path):
    """A blocks checkpoint written before the payload tag — gated on the
    span alone, schema without field metadata — recomputes instead of
    resuming untagged blocks; the earlier stages still resume."""
    from bertopic_spark.corpus import load_corpus
    from bertopic_spark.index.checkpoint import derive, read_manifest
    from bertopic_spark.index.segments import payload_format

    corpus = load_corpus(spark, n_files=120, seed=42)
    root = str(tmp_path / "idx")
    IndexBuild(spark, root).build(corpus)
    bdir = os.path.join(root, "blocks")
    postings = read_manifest(os.path.join(root, "postings"))
    old = read_manifest(bdir)
    old["input_fingerprint"] = derive(postings["input_fingerprint"], "blocks",
                                      "span=4096")
    old["created_utc"] = "2000-01-01T00:00:00Z"
    for f in old["schema"]["fields"]:
        f["metadata"] = {}
    with open(os.path.join(bdir, "_MANIFEST.json"), "w") as f:
        json.dump(old, f)

    blocks = IndexBuild(spark, root).build(corpus)
    assert read_manifest(bdir)["created_utc"] != old["created_utc"]
    assert read_manifest(os.path.join(root, "postings")) == postings
    assert payload_format(blocks) == (4096, "varint")


def test_float64_layout_blocks_checkpoint_is_not_resumed(spark, tmp_path):
    """Blocks checkpointed in the layout with a float64 score per posting
    (gated on span, codec and format alone, no layout in the payload tag)
    recompute instead of resuming; the earlier stages resume, and the
    postings carry each score's doc_len and tagged weight."""
    from bertopic_spark.corpus import load_corpus
    from bertopic_spark.index.checkpoint import derive, read_manifest
    from bertopic_spark.index.segments import payload_format, payload_scorer

    corpus = load_corpus(spark, n_files=120, seed=42)
    root = str(tmp_path / "idx")
    IndexBuild(spark, root).build(corpus)
    bdir = os.path.join(root, "blocks")
    postings = read_manifest(os.path.join(root, "postings"))
    old = read_manifest(bdir)
    old["input_fingerprint"] = derive(postings["input_fingerprint"], "blocks",
                                      "span=4096,codec=varint,format=blocks")
    old["created_utc"] = "2000-01-01T00:00:00Z"
    for f in old["schema"]["fields"]:
        f["metadata"].pop("layout", None)
    with open(os.path.join(bdir, "_MANIFEST.json"), "w") as f:
        json.dump(old, f)

    blocks = IndexBuild(spark, root).build(corpus)
    assert read_manifest(bdir)["created_utc"] != old["created_utc"]
    assert read_manifest(os.path.join(root, "postings")) == postings
    assert payload_format(blocks) == (4096, "varint")
    assert payload_scorer(blocks) == {"scorer": "ctfidf",
                                      "reduce_frequent_words": False}
    assert [f["name"] for f in postings["schema"]["fields"]] == [
        "doc_id", "term", "tf", "score", "doc_len", "weight"]


def test_repeated_builds_leave_no_cached_relation(spark, tmp_path):
    """The docids stage persists its range-partitioned keys and the
    postings stage its per-document counts; each releases them once the
    stage is written, so repeated builds leave the persistent-RDD count
    flat."""
    corpus = spark.createDataFrame(
        [("r", f"p{i}", "c", f"alpha beta_{i % 3} gamma{i} alpha") for i in range(40)],
        "repo string, path string, commit string, content string")
    jsc = spark.sparkContext._jsc
    n0 = jsc.getPersistentRDDs().size()
    for i in range(3):
        IndexBuild(spark, str(tmp_path / f"idx{i}")).build(corpus)
        assert jsc.getPersistentRDDs().size() == n0
