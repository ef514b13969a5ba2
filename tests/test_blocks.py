"""Posting-block codec + Spark block index: lossless roundtrip, metadata."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bertopic_spark.index.blocks import decode_block, encode_block


@given(st.lists(st.tuples(st.integers(0, 10**7), st.integers(1, 10**9),
                          st.floats(-100, 100, allow_nan=False)), max_size=200))
@settings(max_examples=200, deadline=None)
def test_codec_roundtrip_property(postings):
    from bertopic_spark.index.blocks import decode_block_py, encode_block_py

    postings = sorted({p[0]: p for p in postings}.values())
    ids = [p[0] for p in postings]
    tfs = [p[1] for p in postings]
    scs = [float(p[2]) for p in postings]
    rs = (ids[0] // 4096) * 4096 if ids else 0
    payload = encode_block(ids, tfs, scs, rs)
    # numpy encoder is byte-identical to the scalar reference encoder
    assert payload == encode_block_py(ids, tfs, scs, rs)
    # and both decoders invert it
    assert decode_block(payload, rs) == (ids, tfs, scs)
    assert decode_block_py(payload, rs) == (ids, tfs, scs)


def test_codec_compression_ratio():
    # dense consecutive ids with small tfs: varint gaps ≈ 1 byte each
    ids = list(range(4096, 4096 + 128))
    tfs = [1] * 128
    scs = [0.5] * 128
    payload = encode_block(ids, tfs, scs, 4096)
    # 8B score + ~2B id/tf per posting ≪ 24B raw
    assert len(payload) < 128 * 11


def test_spark_block_index_roundtrip(spark, corpus_df):
    from bertopic_spark.index.segments import build_block_index, decode_blocks
    from bertopic_spark.operators.bm25 import doc_scores

    scores = doc_scores(corpus_df, mode="ascii_code")
    span = 64
    blocks = build_block_index(scores, span).cache()
    # metadata invariants
    bad = blocks.filter(
        (blocks.doc_min < blocks.blk * span) | (blocks.doc_max >= (blocks.blk + 1) * span)
        | (blocks.n_docs <= 0)
    ).count()
    assert bad == 0
    decoded = {(r["term"], r["doc_id"]): (r["tf"], r["score"])
               for r in decode_blocks(blocks).collect()}
    orig = {(r["term"], r["doc_id"]): (r["tf"], r["score"])
            for r in scores.collect()}
    assert decoded == orig  # lossless including float64 scores


def test_blocks_deterministic_across_partitioning(spark, corpus_df):
    from bertopic_spark.index.segments import build_block_index
    from bertopic_spark.operators.bm25 import doc_scores

    span = 64
    a = build_block_index(doc_scores(corpus_df, mode="ascii_code"), span)
    b = build_block_index(doc_scores(corpus_df.repartition(7), mode="ascii_code"), span)
    pa = {(r["term"], r["blk"]): bytes(r["payload"]) for r in a.collect()}
    pb = {(r["term"], r["blk"]): bytes(r["payload"]) for r in b.collect()}
    assert pa == pb  # byte-identical payloads regardless of input partitioning
