"""PFor-delta posting-block codec (index/blocks.py): exact roundtrip,
byte-level edge cases (width 0, width 64, exception patches), content
equality with the varint codec, and the codec seam through
build_block_index / decode_blocks / serve_topk."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bertopic_spark.index.blocks import (_pfor_decode_np, _pfor_encode_np,
                                         _varint_encode_np,
                                         decode_block_arrays,
                                         decode_block_pfor_arrays,
                                         encode_block, encode_block_pfor)


def _roundtrip(vals: np.ndarray) -> None:
    enc = _pfor_encode_np(vals)
    dec, pos = _pfor_decode_np(np.frombuffer(enc, dtype=np.uint8), 0, len(vals))
    assert pos == len(enc)  # stream fully self-delimiting
    assert np.array_equal(dec, vals)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                min_size=1, max_size=300))
@settings(max_examples=150, deadline=None)
def test_pfor_roundtrip_property(xs):
    _roundtrip(np.array(xs, dtype=np.uint64))


@pytest.mark.parametrize("vals", [
    [0],                                  # width 0, no exceptions
    [0] * 50,
    [2**64 - 1],                          # width 64
    [2**63, 0, 2**63],                    # max-width mixed with zeros
    list(range(1, 129)),                  # clean 7-bit block
    [127, 128, 16383, 16384],             # varint byte boundaries
    [1] * 100 + [2**40],                  # single far exception at the end
    [2**40] + [1] * 100,                  # exception at position 0
])
def test_pfor_edge_cases(vals):
    _roundtrip(np.array(vals, dtype=np.uint64))


def test_block_codecs_decode_identically():
    rng = np.random.default_rng(11)
    for trial in range(40):
        n = int(rng.integers(1, 400))
        ids = (np.cumsum(rng.integers(1, 900, size=n)) + 4096 * 3).astype(np.int64)
        tfs = rng.integers(1, 250, size=n).astype(np.int64)
        if trial % 3 == 0:  # exception path: rare huge tfs
            tfs[rng.integers(0, n, size=max(1, n // 40))] = int(rng.integers(1 << 20, 1 << 40))
        scs = rng.random(n)
        rs = 4096 * 3
        a = decode_block_arrays(encode_block(ids, tfs, scs, rs), rs)
        b = decode_block_pfor_arrays(encode_block_pfor(ids, tfs, scs, rs), rs)
        for x, y in zip(a, b):
            assert np.array_equal(x, y)


def test_pfor_beats_varint_on_gap_profiles():
    rng = np.random.default_rng(5)
    profiles = {
        "small": rng.integers(1, 120, 4000),
        "mixed": np.where(rng.random(4000) < 0.95,
                          rng.integers(1, 100, 4000),
                          rng.integers(10**5, 10**7, 4000)),
        "large": rng.integers(10**5, 10**7, 4000),
    }
    for name, gaps in profiles.items():
        v = gaps.astype(np.uint64)
        assert len(_pfor_encode_np(v)) < len(_varint_encode_np(v)), name


def _ranked(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    return {q: sorted(v) for q, v in out.items()}


def test_codec_seam_end_to_end(spark, tmp_path):
    """Both codecs decode to the same postings and, written as a segment
    tree, serve identical answers through serve_topk — which match
    bm25_topk rank for rank. No reader is told the codec: it rides in the
    payload tag."""
    from bertopic_spark.corpus import fixture_queries, load_corpus
    from bertopic_spark.index.segments import (build_block_index,
                                               decode_blocks, serve_topk,
                                               write_index_segments)
    from bertopic_spark.operators.bm25 import (bm25_topk, doc_scores,
                                               queries_df, query_terms)
    from bertopic_spark.tokenizer import tokenize_one

    corpus = load_corpus(spark, n_files=300)
    scores = doc_scores(corpus, text_col="content", id_col="doc_id").persist()
    fq = fixture_queries(5)
    qt = query_terms(queries_df(spark, fq), "ascii_code")
    qts = {q: sorted(set(tokenize_one(fq[q], "ascii_code"))) for q in fq}
    want = _ranked(bm25_topk(scores, qt, k=5))
    outs = {}
    for codec in ("varint", "pfor"):
        blocks = build_block_index(scores, span=64, codec=codec).persist()
        seg = str(tmp_path / codec)
        write_index_segments(blocks, seg, n_buckets=16)
        outs[codec] = {
            "content": sorted(map(tuple, decode_blocks(blocks).collect())),
            "served": _ranked(serve_topk(spark, seg, qts, k=5)),
        }
        blocks.unpersist()
    scores.unpersist()
    assert outs["varint"]["content"] == outs["pfor"]["content"]
    assert outs["varint"]["served"] == outs["pfor"]["served"]
    assert len(outs["varint"]["content"]) > 0
    assert want
    for codec, out in outs.items():
        got = out["served"]
        assert set(got) == set(want), codec
        for q in want:
            assert ([(r, d) for r, d, _ in got[q]]
                    == [(r, d) for r, d, _ in want[q]]), (codec, q)
            for (_, _, gs), (_, _, ws) in zip(got[q], want[q]):
                assert gs == pytest.approx(ws, abs=1e-12)
