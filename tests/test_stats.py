"""Oracle-parity + semantic tests for the statistical-testing operators
(`operators/stats.py`): A/B z-test, chi-squared independence, closed-form
OLS. Beyond hash parity, each statistic's mathematical contract is checked
against an independent scipy/numpy-free replay on collected data."""

import math

import pytest

from bigdata_group4_app_spark.operators import stats
from bigdata_group4_app_spark.plans.churn import churn_customers

from .conftest import SF_CORRECT, SF_SMOKE, check_registered


@pytest.mark.parametrize("name", sorted(stats.QUERIES))
def test_stats_oracle_parity(spark, name):
    check_registered(spark, name, SF_CORRECT)


def test_ztest_replay(spark):
    """z statistic recomputed from the emitted counts must agree, and both
    proportions must be interior (the design guarantee that makes the
    pooled-variance denominator nonzero)."""
    r = stats.ab_conversion_ztest(spark, SF_CORRECT).collect()[0]
    assert 0 < r["conv_a"] < r["n_a"]
    assert 0 < r["conv_b"] < r["n_b"]
    p_a, p_b = r["conv_a"] / r["n_a"], r["conv_b"] / r["n_b"]
    pool = (r["conv_a"] + r["conv_b"]) / (r["n_a"] + r["n_b"])
    z = (p_a - p_b) / math.sqrt(
        pool * (1 - pool) * (1 / r["n_a"] + 1 / r["n_b"])
    )
    assert abs(z - r["z_score"]) < 1e-3


def test_chi2_replay(spark):
    """Chi-squared statistic recomputed from the emitted contingency rows;
    expectations must sum back to the observed churn total."""
    rows = stats.chi2_churn_contract(spark, SF_CORRECT).collect()
    assert len(rows) == 3
    tot_n = sum(r["n"] for r in rows)
    tot_churn = sum(r["churned"] for r in rows)
    assert (
        abs(sum(r["expected_churned"] for r in rows) - tot_churn) < 1e-2
    )
    chi2 = 0.0
    for r in rows:
        e1 = r["n"] * tot_churn / tot_n
        e0 = r["n"] - e1
        o1, o0 = r["churned"], r["n"] - r["churned"]
        chi2 += (o1 - e1) ** 2 / e1 + (o0 - e0) ** 2 / e0
        assert abs(r["expected_churned"] - e1) < 1e-3
    assert abs(chi2 - rows[0]["chi2_total"]) < 1e-2
    assert all(r["chi2_total"] == rows[0]["chi2_total"] for r in rows)


def test_ols_replay(spark):
    """Slope/intercept/r2 recomputed per group from raw collected rows
    (numerically independent path: per-row residual algebra, not the
    sufficient-statistics identity)."""
    got = {
        r["subscription_type"]: r
        for r in stats.ols_spend_by_segment(spark, SF_SMOKE).collect()
    }
    data = churn_customers(spark, SF_SMOKE).collect()
    groups: dict = {}
    for row in data:
        groups.setdefault(row["Subscription Type"], []).append(
            (row["Age"], row["Total Spend"])
        )
    assert set(got) == set(groups)
    for seg, pts in groups.items():
        n = len(pts)
        mx = sum(p[0] for p in pts) / n
        my = sum(p[1] for p in pts) / n
        vxx = sum((p[0] - mx) ** 2 for p in pts)
        vxy = sum((p[0] - mx) * (p[1] - my) for p in pts)
        vyy = sum((p[1] - my) ** 2 for p in pts)
        slope = vxy / vxx
        intercept = my - slope * mx
        r2 = vxy * vxy / (vxx * vyy)
        assert got[seg]["n"] == n
        assert abs(got[seg]["slope"] - slope) < 1e-2
        assert abs(got[seg]["intercept"] - intercept) < 5e-2
        assert abs(got[seg]["r2"] - r2) < 1e-3


def test_weighted_median_replay(spark):
    """Replay: smallest spend whose cumulative usage weight reaches half
    the tier total, computed in pure Python."""
    rows = churn_customers(spark, SF_CORRECT).collect()
    groups: dict = {}
    for r in rows:
        groups.setdefault(r["Subscription Type"], []).append(
            (r["Total Spend"], r["CustomerID"], r["Usage Frequency"])
        )
    got = {
        r["subscription_type"]: (
            r["weighted_median_spend"],
            r["total_weight"],
        )
        for r in stats.weighted_median_spend(spark, SF_CORRECT).collect()
    }
    for seg, pts in groups.items():
        pts.sort()
        total = sum(p[2] for p in pts)
        cum = 0
        for spend, _, wt in pts:
            cum += wt
            if 2 * cum >= total:
                assert got[seg] == (spend, total)
                break


def test_ridge_replay_and_shrinkage(spark):
    """Coefficients replayed from the closed form in pure Python, and
    ridge must shrink both coefficients' magnitudes relative to the
    (near-)unregularized fit of the same design."""
    rows = churn_customers(spark, SF_CORRECT).collect()
    groups: dict = {}
    for r in rows:
        groups.setdefault(r["Contract Length"], []).append(
            (r["Age"], r["Tenure"], r["Total Spend"])
        )
    got = {
        r["contract_length"]: (r["beta_age"], r["beta_tenure"])
        for r in stats.ridge_spend_model(spark, SF_CORRECT).collect()
    }
    assert set(got) == set(groups)

    def fit(pts, lam):
        n = len(pts)
        s1 = sum(p[0] for p in pts)
        s2 = sum(p[1] for p in pts)
        s11 = sum(p[0] * p[0] for p in pts)
        s22 = sum(p[1] * p[1] for p in pts)
        s12 = sum(p[0] * p[1] for p in pts)
        sy = sum(p[2] for p in pts)
        s1y = sum(p[0] * p[2] for p in pts)
        s2y = sum(p[1] * p[2] for p in pts)
        a = s11 - s1 * s1 / n + lam
        c = s22 - s2 * s2 / n + lam
        b = s12 - s1 * s2 / n
        g1 = s1y - s1 * sy / n
        g2 = s2y - s2 * sy / n
        det = a * c - b * b
        return ((c * g1 - b * g2) / det, (a * g2 - b * g1) / det)

    for tier, pts in groups.items():
        ridge = fit(pts, stats.RIDGE_LAMBDA)
        loose = fit(pts, 1e-9)
        assert abs(got[tier][0] - ridge[0]) < 1e-4
        assert abs(got[tier][1] - ridge[1]) < 1e-4
        # shrinkage: ridge coefficients are no larger in magnitude
        assert abs(ridge[0]) <= abs(loose[0]) + 1e-12
        assert abs(ridge[1]) <= abs(loose[1]) + 1e-12


def test_poisson_bootstrap_ci_replay_and_coverage(spark):
    """Replay the Poisson weights in pure Python (same md5-uniform →
    breakpoint mapping) for one segment's replica means, and sanity-check
    the interval: lo < point mean < hi, width ~ O(std/√n)."""
    import hashlib

    from bigdata_group4_app_spark.operators import stats as st
    from bigdata_group4_app_spark.sources.registry import load_table

    from .conftest import SF_CORRECT

    rows = st.poisson_bootstrap_ci(spark, SF_CORRECT).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r["ci_lo"] < r["mean_acctbal"] < r["ci_hi"], r
        assert (r["ci_hi"] - r["ci_lo"]) < 2000, r

    cust = (
        load_table(spark, SF_CORRECT, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .collect()
    )
    seg = rows[0]["c_mktsegment"]
    members = [(c["c_custkey"], c["c_acctbal"]) for c in cust if c["c_mktsegment"] == seg]

    def weight(key, b):
        u = (
            int(hashlib.md5(f"pb_{key}_{b}".encode()).hexdigest()[:8], 16)
            / 4294967296.0
        )
        for k, c in enumerate(st._POISSON_CUM):
            if u < c:
                return k
        return len(st._POISSON_CUM)

    means = []
    for b in range(st.BOOTSTRAP_B):
        sw = nw = 0.0
        for key, x in members:
            w = weight(key, b)
            sw += w * x
            nw += w
        assert nw > 0
        means.append(sw / nw)
    means.sort()
    # exact-percentile replay (linear interpolation, the percentile() def)
    def pct(q):
        pos = q * (len(means) - 1)
        i = int(pos)
        frac = pos - i
        return means[i] + frac * (means[min(i + 1, len(means) - 1)] - means[i])

    assert abs(round(pct(0.025), 4) - rows[0]["ci_lo"]) < 1e-6
    assert abs(round(pct(0.975), 4) - rows[0]["ci_hi"]) < 1e-6


def test_neyman_allocation_replay(spark):
    """Replay n_h·S_h allocation with statistics.stdev; shares sum to 1."""
    from statistics import stdev

    from bigdata_group4_app_spark.operators import stats as st
    from bigdata_group4_app_spark.sources.registry import load_table

    from .conftest import SF_CORRECT

    rows = st.neyman_allocation(spark, SF_CORRECT).collect()
    assert abs(sum(r["alloc_share"] for r in rows) - 1.0) < 1e-3
    by_seg: dict = {}
    for c in load_table(spark, SF_CORRECT, "customer").collect():
        by_seg.setdefault(c["c_mktsegment"], []).append(c["c_acctbal"])
    weights = {s: len(v) * stdev(v) for s, v in by_seg.items()}
    norm = sum(weights.values())
    for r in rows:
        assert r["n_h"] == len(by_seg[r["c_mktsegment"]])
        want = weights[r["c_mktsegment"]] / norm
        assert abs(r["alloc_share"] - want) < 1e-3
        assert abs(r["n_alloc"] - want * st.NEYMAN_BUDGET) < 1.0


def test_hill_tail_index_replay(spark):
    """Replay the Hill estimator with math.log over the collected tail."""
    import math

    from bigdata_group4_app_spark.operators import stats as st
    from bigdata_group4_app_spark.sources.registry import load_table

    from .conftest import SF_CORRECT

    orders = load_table(spark, SF_CORRECT, "orders").collect()
    by_prio: dict = {}
    for o in orders:
        by_prio.setdefault(o["o_orderpriority"], []).append(
            (o["o_totalprice"], o["o_orderkey"])
        )
    got = {r["o_orderpriority"]: r for r in st.hill_tail_index(spark, SF_CORRECT).collect()}
    for prio, vals in by_prio.items():
        vals.sort(key=lambda t: (-t[0], t[1]))
        xs = [v for v, _ in vals[: st.HILL_K]]
        xk1 = vals[st.HILL_K][0]
        h = sum(math.log(x / xk1) for x in xs) / st.HILL_K
        r = got[prio]
        assert r["k"] == st.HILL_K
        assert abs(r["hill_h"] - h) < 1e-3
        assert abs(r["tail_alpha"] - 1.0 / h) < 1e-2
        assert r["tail_alpha"] > 0
