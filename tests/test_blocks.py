"""Posting-block codec + Spark block index: lossless roundtrip, metadata."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bertopic_spark.index.blocks import decode_block, encode_block


@given(st.lists(st.tuples(st.integers(0, 10**7), st.integers(1, 10**9),
                          st.integers(1, 10**12)), max_size=200))
@settings(max_examples=200, deadline=None)
def test_codec_roundtrip_property(postings):
    """Both codecs against the scalar reference: the numpy varint encoder
    is byte-identical to it, and every decoder — one block at a time or a
    batch of blocks — gives back (doc id, tf, document length)."""
    from bertopic_spark.index.blocks import (CODECS, decode_block_py,
                                             decode_payloads, encode_block_py)

    postings = sorted({p[0]: p for p in postings}.values())
    ids = [p[0] for p in postings]
    tfs = [p[1] for p in postings]
    dls = [p[2] for p in postings]
    rs = (ids[0] // 4096) * 4096 if ids else 0
    payload = encode_block(ids, tfs, dls, rs)
    assert payload == encode_block_py(ids, tfs, dls, rs)
    assert decode_block(payload, rs) == (ids, tfs, dls)
    assert decode_block_py(payload, rs) == (ids, tfs, dls)
    half = len(ids) // 2
    for codec, (encode, decode) in CODECS.items():
        p = encode(ids, tfs, dls, rs)
        assert [a.tolist() for a in decode(p, rs)] == [ids, tfs, dls], codec
        # a batch: this block, an empty one and its second half re-encoded
        # in the next range
        second = [i - rs + rs + 4096 for i in ids[half:]]
        batch = [p, b"", encode(second, tfs[half:], dls[half:], rs + 4096)]
        n, bi, bt, bd = decode_payloads(codec, batch, [rs, rs, rs + 4096])
        assert n.tolist() == [len(ids), 0, len(ids) - half], codec
        assert bi.tolist() == ids + second, codec
        assert bt.tolist() == tfs + tfs[half:], codec
        assert bd.tolist() == dls + dls[half:], codec


def test_codec_compression_ratio():
    # dense consecutive ids with small tfs and short documents: one byte
    # per gap, tf and length after a two-byte count
    ids = list(range(4096, 4096 + 128))
    tfs = [1] * 128
    dls = [100] * 128
    payload = encode_block(ids, tfs, dls, 4096)
    assert len(payload) == 2 + 3 * 128


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
    # lossless: the scores recomputed from (tf, doc_len, weight) are the
    # float64 values doc_scores computed
    assert decoded == orig


def test_blocks_deterministic_across_partitioning(spark, corpus_df):
    from bertopic_spark.index.segments import build_block_index
    from bertopic_spark.operators.bm25 import doc_scores

    span = 64
    a = build_block_index(doc_scores(corpus_df, mode="ascii_code"), span)
    b = build_block_index(doc_scores(corpus_df.repartition(7), mode="ascii_code"), span)
    pa = {(r["term"], r["blk"]): bytes(r["payload"]) for r in a.collect()}
    pb = {(r["term"], r["blk"]): bytes(r["payload"]) for r in b.collect()}
    assert pa == pb  # byte-identical payloads regardless of input partitioning
