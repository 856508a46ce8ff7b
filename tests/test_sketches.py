"""Oracle-parity + error-bound tests for the deterministic sketch family
(`operators/sketches.py`): KMV distinct count, KMV set overlap, count-min.
Beyond hash parity, each sketch's STATISTICAL contract is asserted — the
estimates must actually be close (KMV) or one-sided (CMS), at both the
correctness SF and the smoke SF (where KMV's exact-below-k branch fires).
"""

import pytest

from bigdata_group4_app_spark.operators import sketches

from .conftest import SF_CORRECT, SF_SMOKE, check_registered


@pytest.mark.parametrize("name", sorted(sketches.QUERIES))
def test_sketch_oracle_parity(spark, name):
    check_registered(spark, name, SF_CORRECT)


def test_kmv_error_within_bound(spark):
    """KMV with k=64 has std. error ~1/sqrt(64)=12.5%; assert every group
    lands within 4 sigma (50%) and the realized error column is honest."""
    rows = sketches.kmv_distinct_by_type(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert r["rel_error"] <= 0.5
        got = abs(r["kmv_estimate"] - r["n_distinct_exact"]) / r[
            "n_distinct_exact"
        ]
        assert abs(got - r["rel_error"]) < 1e-3


def test_kmv_exact_below_k(spark):
    """When a group has fewer than k members the sketch has seen every
    hash and must report exactly (rel_error 0). The smoke SF's per-type
    user sets are far under k=64."""
    rows = sketches.kmv_distinct_by_type(spark, SF_SMOKE).collect()
    small = [r for r in rows if r["n_distinct_exact"] < sketches.KMV_K]
    assert small, "smoke SF should have sub-k groups"
    for r in small:
        assert r["kmv_estimate"] == float(r["n_distinct_exact"])
        assert r["rel_error"] == 0.0


def test_overlap_estimates_bracket_exact(spark):
    row = sketches.kmv_user_overlap(spark, SF_CORRECT).collect()[0]
    # non-degenerate set pair: real partial overlap
    assert 0.0 < row["jaccard_exact"] < 1.0
    # sampled Jaccard within 4*sqrt(J(1-J)/k) of exact
    sigma = (row["jaccard_exact"] * (1 - row["jaccard_exact"]) / 64) ** 0.5
    assert abs(row["jaccard_kmv"] - row["jaccard_exact"]) <= 4 * sigma
    assert abs(row["union_kmv"] - row["union_exact"]) / row[
        "union_exact"
    ] <= 0.5


def test_cms_overestimates_only(spark):
    """Count-min error is ONE-SIDED: estimate >= exact for every key."""
    rows = sketches.cms_heavy_hitters(spark, SF_CORRECT).collect()
    assert len(rows) == sketches.CMS_TOP
    for r in rows:
        assert r["cms_estimate"] >= r["n_events_exact"]
        assert r["overcount"] == r["cms_estimate"] - r["n_events_exact"]
    # ranks are a total order 1..K
    assert [r["rank"] for r in rows] == list(range(1, sketches.CMS_TOP + 1))
