"""Oracle-parity + semantic tests for the declarative DQ rule engine."""

from bigdata_group4_app_spark.operators import quality

from .conftest import SF_CORRECT, check_registered


def test_dq_oracle_parity(spark):
    check_registered(spark, "dq_rule_violations", SF_CORRECT)


def test_dq_rules_discriminate(spark):
    """The suite must both FIND real violations (policy rules seeded to
    fire on this data) and NOT false-alarm on clean invariants."""
    rows = {
        r["rule_id"]: r
        for r in quality.dq_rule_violations(spark, SF_CORRECT).collect()
    }
    assert len(rows) == len(quality.SINGLE_TABLE_RULES) + len(
        quality.JOIN_RULES
    )
    # genuinely firing policy rules
    for rule in ("li_discount_max_5pct", "ev_value_range",
                 "cust_acctbal_nonneg"):
        assert rows[rule]["n_violations"] > 0, rule
    # clean invariants: domains, referential + temporal integrity
    for rule in ("li_quantity_positive", "ord_status_domain",
                 "ev_type_domain", "li_orphan_orderkey"):
        assert rows[rule]["n_violations"] == 0, rule
    for r in rows.values():
        assert 0 <= r["n_violations"] <= r["n_rows"]
        assert abs(
            r["violation_rate"] - round(r["n_violations"] / r["n_rows"], 6)
        ) < 1e-9


def test_dq_single_scan_per_table(spark):
    """Scale contract: all lineitem rules fuse into one aggregate over one
    scan — the plan must contain exactly one lineitem file scan per
    consumer branch, not one per rule. (Three lineitem rules + two
    join-rule branches → the lineitem parquet appears ≤ 2× : once for the
    fused single-table agg, once for the join.)"""
    plan = (
        quality.dq_rule_violations(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("lineitem.parquet") <= 2


def test_observation_metrics_match_direct_aggregation(spark):
    """observe() metrics ride the action that was happening anyway; the
    reported numbers must equal a direct aggregate over the same scan."""
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.operators.quality import (
        observed_lineitem_metrics,
    )
    from bigdata_group4_app_spark.sources.registry import load_table

    observed, obs = observed_lineitem_metrics(spark, SF_CORRECT)
    # any action triggers metric collection — a count is the cheapest
    n = observed.count()
    got = obs.get
    li = load_table(spark, SF_CORRECT, "lineitem")
    want = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.expr("l_discount > 0.05"), 1).otherwise(0)).alias(
            "n_discount_violations"
        ),
        F.round(F.sum("l_extendedprice"), 4).alias("total_base_price"),
    ).collect()[0]
    assert got["n_rows"] == n == want["n_rows"]
    assert got["n_discount_violations"] == want["n_discount_violations"]
    assert abs(got["total_base_price"] - want["total_base_price"]) < 1e-6
