"""The benchmark's own tests (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from bertopic_spark.corpus import generate_rows  # noqa: E402
from perfbench import check, inputs, metrics, stats  # noqa: E402


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- seeded inputs -----------------------------------------------------------

def test_same_seed_same_corpus_and_queries():
    a, b = generate_rows(40, 5), generate_rows(40, 5)
    assert inputs.corpus_fingerprint(a) == inputs.corpus_fingerprint(b)
    assert inputs.single_queries(12, 5) == inputs.single_queries(12, 5)
    assert inputs.batch_queries(0, 64, 5, 1000) == inputs.batch_queries(0, 64, 5, 1000)


def test_other_seed_other_inputs():
    assert (inputs.corpus_fingerprint(generate_rows(40, 5))
            != inputs.corpus_fingerprint(generate_rows(40, 6)))
    assert inputs.single_queries(12, 5) != inputs.single_queries(12, 6)


def _classes(qs, seed):
    from bertopic_spark.corpus import fixture_queries

    pool = fixture_queries(inputs.POOL, seed=seed, corpus_seed=seed)
    qid_of = {text: qid for qid, text in pool.items()}
    return [inputs.query_class(qid_of[q]) for q in qs.values()]


def test_query_terms_come_from_the_seeded_corpus():
    """corpus_seed follows the workload seed, so identifier queries hit."""
    from bertopic_spark.tokenizer import tokenize_many

    rows = generate_rows(200, 9)
    vocab = {t for toks in tokenize_many([r[4] for r in rows]) for t in toks}
    qs = inputs.single_queries(16, 9)
    ident = [q for q, c in zip(qs.values(), _classes(qs, 9)) if c == "ident"]
    assert ident and all(any(t in vocab for t in q.lower().split()) for q in ident)


@pytest.mark.parametrize("n", [1, 7, 14, 64, 200])
def test_single_query_stream_keeps_the_fixture_mix(n):
    """Every prefix holds the pool's 5:5:54 class mix to within one query."""
    classes = _classes(inputs.single_queries(n, 3), 3)
    share = {"stop": 5, "oov": 5, "ident": 54}
    for i in range(1, n + 1):
        for c, w in share.items():
            assert abs(classes[:i].count(c) - i * w / inputs.POOL) < 1


def test_warmup_covers_stop_and_identifier_queries():
    from bertopic_spark.corpus import STOP_TERMS

    qs = inputs.warmup_queries(4)
    stop, ident = qs[0::2], qs[1::2]
    assert stop and all(t in STOP_TERMS for q in stop for t in q.split())
    assert ident and all(not all(t in STOP_TERMS for t in q.split()) and "zzqq" not in q
                         for q in ident)


def test_written_corpus_reads_back(tmp_path):
    import pyarrow.parquet as pq

    rows = generate_rows(30, 2)
    path = inputs.write_corpus(rows, 30, 2, str(tmp_path))
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    table = pq.read_table(path)
    got = sorted(zip(*[table.column(c).to_pylist() for c in inputs.COLUMNS]))
    assert got == sorted(rows)


# -- metric names ------------------------------------------------------------

def test_metric_names_and_units_match_benchmark_json():
    bj = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bj["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bj["per_layer"]} == metrics.PER_LAYER


def test_result_prints_exactly_the_mode_metrics():
    vals = {k: 1.5 for k in metrics.END_TO_END}
    res = metrics.result(3, 0, vals, trace=False)
    assert res["correct"] and res["attempted"] == 3 and res["failed"] == 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == metrics.END_TO_END
    with pytest.raises(KeyError):
        metrics.result(3, 0, {**vals, "extra": 1.0}, trace=False)
    with pytest.raises(KeyError):
        metrics.result(3, 0, vals, trace=True)
    assert not metrics.result(3, 1, vals, trace=False)["correct"]


def test_benchmark_json_shape():
    bj = _benchmark_json()
    assert set(bj) == {"command", "paths", "run_seconds", "workloads",
                       "end_to_end", "per_layer"}
    names = [m["name"] for m in bj["end_to_end"] + bj["per_layer"]]
    assert len(names) == len(set(names))
    setup = [m for m in bj["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    bounds = [m["bound"] for m in bj["end_to_end"]]
    assert all(0 < b <= 0.25 for b in bounds) and setup[0]["bound"] == max(bounds)
    from perfbench.workloads import WORKLOADS
    assert {w["name"] for w in bj["workloads"]} <= set(WORKLOADS)


# -- tail percentile rule ----------------------------------------------------

@pytest.mark.parametrize("n", list(range(1, 400)))
def test_tail_percentile_leaves_ten_samples_above(n):
    p = stats.tail_percentile(n)
    if n < 20:
        assert p is None
        return
    assert stats.samples_above(n, p) >= 10
    # it is the highest such percentile
    assert p == 99 or stats.samples_above(n, p + 1) < 10
    values = [float(i) for i in range(n)]
    assert sum(v > stats.percentile(values, p) for v in values) >= 10


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 1) == 1.0


# -- answer checker ----------------------------------------------------------

WANT = [(7, 3.0), (2, 2.5), (9, 2.0), (4, 2.0), (1, 1.5), (8, 1.0)]


def test_checker_accepts_the_oracle_topk():
    assert check.topk_matches(WANT[:4], WANT, k=4)
    assert check.topk_matches([(7, 3.0 + 1e-12), *WANT[1:4]], WANT, k=4)


def test_checker_accepts_a_reordered_tie():
    assert check.topk_matches([(7, 3.0), (2, 2.5), (4, 2.0), (9, 2.0)], WANT, k=4)
    # the tie group cut at rank k may be filled by either member
    assert check.topk_matches([(7, 3.0), (2, 2.5), (4, 2.0)], WANT, k=3)


@pytest.mark.parametrize("got", [
    [(7, 3.0), (2, 2.5), (9, 2.0), (1, 2.0)],        # wrong doc, score forged
    [(7, 3.0), (9, 2.0), (2, 2.5), (4, 2.0)],        # non-tied docs swapped
    [(7, 3.0), (2, 2.5 + 1e-6), (9, 2.0), (4, 2.0)],  # score off by 1e-6
    [(7, 3.0), (2, 2.5), (9, 2.0)],                   # a result missing
    [(7, 3.0), (2, 2.5), (9, 2.0), (9, 2.0)],        # a duplicate
    [(7, 3.0), (2, 2.5), (9, 2.0), (5, 2.0)],        # a doc the oracle never ranked
])
def test_checker_rejects_a_perturbed_topk(got):
    assert not check.topk_matches(got, WANT, k=4)


def test_rejected_queries_counts_missing_answers():
    want = {1: WANT, 2: WANT}
    assert check.rejected_queries({1: WANT[:4]}, want, [1, 2], k=4) == [2]
    assert check.rejected_queries({}, {3: []}, [3], k=4) == []


def test_keyword_checker_rejects_a_perturbed_list():
    want = {("go", "r1"): [("alpha", 0.5), ("beta", 0.25)]}
    assert check.rejected_classes(want, want) == []
    swapped = {("go", "r1"): [("beta", 0.5), ("alpha", 0.25)]}
    assert check.rejected_classes(swapped, want) == [("go", "r1")]
    off = {("go", "r1"): [("alpha", 0.5 + 1e-6), ("beta", 0.25)]}
    assert check.rejected_classes(off, want) == [("go", "r1")]


def test_hits_by_query_orders_by_rank():
    rows = [{"query_id": 1, "doc_id": 4, "score": 1.0, "rank": 2},
            {"query_id": 1, "doc_id": 3, "score": 2.0, "rank": 1}]
    assert check.hits_by_query(rows) == {1: [(3, 2.0), (4, 1.0)]}


# -- harness -----------------------------------------------------------------

def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run must fail fast
    and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    bj = _benchmark_json()
    proc = subprocess.run(
        [sys.executable, *bj["command"][1:], "--workload", bj["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
