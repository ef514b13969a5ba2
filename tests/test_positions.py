"""Positional segment store: roundtrip equality with the live relation,
driver-side bucket routing, pruned phrase/proximity serving."""

import pytest
from pyspark.sql import functions as F

from bertopic_spark.index.positions import read_positions, write_positions
from bertopic_spark.operators.fulltext import (doc_term_positions,
                                               phrase_match,
                                               phrase_match_postings,
                                               proximity_match,
                                               proximity_match_postings)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def pos_path(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("posidx") / "positions")
    write_positions(doc_term_positions(docs, "text", "doc_id"), path,
                    n_buckets=16)
    return path


def test_roundtrip_and_pruned_serving(spark, docs, pos_path):
    live = doc_term_positions(docs, "text", "doc_id",
                              terms=["customer", "order"])
    stored = read_positions(spark, pos_path, ["customer", "order"])
    assert {tuple(r) for r in stored.collect()} == \
           {tuple(r) for r in live.collect()}
    # phrase + proximity over the stored index == scan paths
    ph = phrase_match_postings(
        read_positions(spark, pos_path, ["customer", "stream"]),
        ["customer", "stream"])
    assert {tuple(r) for r in ph.collect()} == \
           {tuple(r) for r in phrase_match(docs, "customer stream",
                                           "text").collect()}
    px = proximity_match_postings(
        read_positions(spark, pos_path, ["customer", "order"]),
        ["customer", "order"], 12)
    assert {tuple(r) for r in px.collect()} == \
           {tuple(r) for r in proximity_match(docs, ["customer", "order"],
                                              12, "text").collect()}


def test_scan_is_pruned(spark, pos_path):
    plan = read_positions(spark, pos_path, ["customer"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    with pytest.raises(ValueError):
        read_positions(spark, pos_path, [])


from bertopic_spark.index.positions import (build_pos_blocks,
                                            decode_pos_block,
                                            encode_pos_block,
                                            read_pos_segments,
                                            write_pos_segments)


def test_pos_codec_roundtrip_properties():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.tuples(st.integers(0, 4095),
                              st.lists(st.integers(0, 10000), min_size=1,
                                       max_size=6, unique=True)),
                    min_size=1, max_size=20, unique_by=lambda t: t[0]))
    def check(docs):
        docs = sorted((d, sorted(ps)) for d, ps in docs)
        ids = [d for d, _ in docs]
        cts = [len(ps) for _, ps in docs]
        flat = [p for _, ps in docs for p in ps]
        payload = encode_pos_block(ids, cts, flat, 0)
        rid, rct, rps = decode_pos_block(payload, 0, len(ids), len(flat))
        assert list(rid) == ids and list(rct) == cts and list(rps) == flat

    check()


def test_compressed_pos_segments_serve_phrase(spark, docs, tmp_path_factory):
    live = doc_term_positions(docs, "text", "doc_id")
    path = str(tmp_path_factory.mktemp("posblk") / "posseg")
    write_pos_segments(build_pos_blocks(live, span=256), path, n_buckets=16)
    terms = ["customer", "stream"]
    stored = read_pos_segments(spark, path, terms)
    want = {tuple(r) for r in doc_term_positions(
        docs, "text", "doc_id", terms=terms).collect()}
    assert {tuple(r) for r in stored.collect()} == want
    ph = phrase_match_postings(
        read_pos_segments(spark, path, terms), terms)
    assert {tuple(r) for r in ph.collect()} == \
           {tuple(r) for r in phrase_match(docs, "customer stream",
                                           "text").collect()}
