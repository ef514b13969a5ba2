"""Scale-dependent correctness (VERDICT r3 #5): replay the driver-sampled
gate set against DuckDB at sf0.1 — ten times the data the regular replay
uses — to catch bucket-boundary, overflow, and skew-path bugs before the
driver does. Marked slow; deselect with -m "not slow"."""

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"

# union of every driver-sampled gate so far (each round samples a different
# 50), plus gates added since the last driver run — refresh when a new
# CORRECTNESS_r*.json lands
SAMPLE: list[str] = []
for _r in ("CORRECTNESS_r03.json", "CORRECTNESS_r04.json"):
    _p = os.path.join(REPO, _r)
    if os.path.exists(_p):
        SAMPLE += sorted(json.load(open(_p)))
# round-4 additions never driver-sampled (VERDICT r4 #4)
SAMPLE += ["dedup_containment", "dedup_containment_boiler",
           "numeric_histogram", "interval_overlap_pairs", "rank_eval_err",
           "rank_feature_topk",
           "shipping_priority", "local_supplier_volume",
           "nations_volume_shipping", "returned_customers_topk",
           "large_volume_customers",
           "frequent_brand_pairs", "percentiles_bucket_daily", "lwa_hourly",
           "prom_histogram_quantile", "change_point_hourly",
           "ks_value_click_vs_purchase", "terms_lookup_topk",
           # round-5 additions and round-5-touched gates
           "dedup_embedding_neardup", "dedup_embedding_neardup_lsh",
           "common_terms_topk", "percolate", "percolate_phrases",
           "rank_eval_err"]
SAMPLE = sorted(set(SAMPLE))


@pytest.mark.slow
@pytest.mark.skipif(not os.path.isdir(SF01), reason="sf0.1 testdata absent")
def test_driver_sample_matches_oracle_at_sf01(spark):
    import sys
    sys.path.insert(0, os.path.join(REPO, "tests"))
    import oracle_crosscheck as oc

    con = oc.duckdb_con(SF01)
    import __spark_entry__ as e

    qs = e.queries()
    unknown = [n for n in SAMPLE if n not in qs]
    assert not unknown, f"sample names not in registry: {unknown}"
    failed = [(name, errs) for name, status, errs
              in oc.replay(spark, con, SF01, SAMPLE) if status != "OK"]
    assert not failed, failed


SF001X10 = "/root/testdata/sf0.01"


@pytest.mark.slow
@pytest.mark.skipif(not os.path.isdir(SF001X10), reason="sf0.01 absent")
def test_full_registry_matches_oracle_at_sf001x10(spark):
    """Driver-sample insurance (VERDICT r4 #9): the driver draws its 50
    gates at sf0.01, but the fast suite replays at sf0.001 — replay the
    WHOLE registry at sf0.01 so whichever 50 the driver samples were
    already green at the driver's own scale."""
    import sys
    sys.path.insert(0, os.path.join(REPO, "tests"))
    import oracle_crosscheck as oc
    import __spark_entry__ as e

    con = oc.duckdb_con(SF001X10)
    failed = [(name, errs) for name, status, errs
              in oc.replay(spark, con, SF001X10, list(e.queries()))
              if status == "FAIL"]
    assert not failed, failed
