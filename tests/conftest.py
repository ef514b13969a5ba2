import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bertopic_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # cores from get_spark's default ($SPARK_GRAFT_CPUS, else all of the
    # host's), so the session never asks for more threads than cores
    s = get_spark("bertopic_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_df(spark):
    from bertopic_spark.corpus import load_corpus

    return load_corpus(spark, n_files=500, seed=42).cache()


@pytest.fixture(scope="session")
def corpus_rows():
    from bertopic_spark.corpus import generate_rows

    rows = generate_rows(500, seed=42)
    # same deterministic doc_id rule as load_corpus: row_number over (repo, path, commit)
    ordered = sorted(rows, key=lambda r: (r[0], r[1], r[2]))
    return [
        {"doc_id": i, "repo": r[0], "path": r[1], "commit": r[2],
         "lang": r[3], "content": r[4], "content_sha": r[5]}
        for i, r in enumerate(ordered)
    ]


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def documents_df(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


# Run order: the tests that need no SparkSession first, then the Spark tests
# in file order, and last the two oracle replays of the WHOLE registry (each
# runs every queries() entry on Spark and on DuckDB — the longest tests in
# the suite). Nothing is deselected; only the order changes.
WHOLE_REGISTRY_REPLAYS = {
    "test_full_registry_matches_oracle_at_sf001x10",
    "test_all_queries_match_duckdb_oracle",
}


def pytest_collection_modifyitems(items):
    items.sort(key=lambda it: (
        "spark" in getattr(it, "fixturenames", ()),
        getattr(it, "originalname", "") in WHOLE_REGISTRY_REPLAYS))
