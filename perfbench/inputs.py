"""Seeded benchmark inputs: the source-file corpus and the query mix.

Everything is derived from the workload seed. The corpus comes from
``bertopic_spark.corpus.generate_rows`` (the same generator
``load_corpus`` uses) and the queries from ``fixture_queries`` with
``corpus_seed`` equal to the seed, so non-stop query terms occur in the
corpus. The corpus parquet is written with pyarrow into the benchmark's
work directory under the name ``load_corpus`` looks for, so the program's
own loader reads it and no Spark job is spent making inputs.
"""

from __future__ import annotations

import hashlib
import os
from typing import Dict

from bertopic_spark.corpus import fixture_queries

COLUMNS = ["repo", "path", "commit", "lang", "content", "content_sha"]
N_PARQUET_FILES = 16

# The single-query stream takes its queries from one fixture_queries pool
# of this size and keeps the pool's class mix: qids 0-4 are stop-term-only,
# 5-9 carry an OOV term and the rest are 1-5 term identifier queries
# (sometimes with a stop term), i.e. 5:5:54.
POOL = 64


def query_class(qid: int) -> str:
    """The class of a fixture_queries qid."""
    return "stop" if qid < 5 else "oov" if qid < 10 else "ident"


def corpus_fingerprint(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def content_bytes(rows) -> int:
    return sum(len(r[4].encode()) for r in rows)


def write_corpus(rows, n_files: int, seed: int, cache_dir: str) -> str:
    """Write rows as the parquet dataset ``load_corpus`` caches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, f"source_files_n{n_files}_s{seed}.parquet")
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // N_PARQUET_FILES)
    for i in range(N_PARQUET_FILES):
        chunk = rows[i * step:(i + 1) * step]
        table = pa.table({c: [r[j] for r in chunk] for j, c in enumerate(COLUMNS)},
                         schema=pa.schema([(c, pa.string()) for c in COLUMNS]))
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def single_queries(n: int, seed: int) -> Dict[int, str]:
    """n single-query requests, qid = position in the stream.

    The classes of fixture_queries(POOL, seed, corpus_seed=seed) are dealt
    out by smooth weighted round-robin, so every prefix of the stream (a
    run of any length) has the pool's class mix to within one query; within
    a class the queries are taken in a seeded order."""
    import random

    pool = fixture_queries(POOL, seed=seed, corpus_seed=seed)
    by_class: Dict[str, list] = {}
    for qid in sorted(pool):
        by_class.setdefault(query_class(qid), []).append(qid)
    rng = random.Random(seed)
    for ids in by_class.values():
        rng.shuffle(ids)
    weight = {c: len(ids) for c, ids in by_class.items()}
    credit = {c: 0 for c in by_class}
    used = {c: 0 for c in by_class}
    out = {}
    for i in range(n):
        for c in credit:
            credit[c] += weight[c]
        c = max(credit, key=lambda c: (credit[c], c))
        credit[c] -= POOL
        ids = by_class[c]
        out[i] = pool[ids[used[c] % len(ids)]]
        used[c] += 1
    return out


def warmup_queries(seed: int) -> list:
    """Stop-term-only and identifier queries, alternating, from the
    stream's pool, so both query paths are warm before the measured
    requests (the first few requests of a session run slower while the
    JVM compiles)."""
    pool = fixture_queries(POOL, seed=seed, corpus_seed=seed)
    return [pool[0], pool[10], pool[1], pool[11]]


def batch_queries(batch: int, size: int, seed: int, qid_base: int) -> Dict[int, str]:
    """One batch request: ``size`` queries of the fixture mix, with qids
    offset by ``qid_base`` so they never collide with other requests."""
    qs = fixture_queries(size, seed=seed * 1000 + batch + 1, corpus_seed=seed)
    return {qid_base + q: text for q, text in qs.items()}

