"""Oracle-parity tests for the reference-analytics operators (SURVEY.md §2.2-2.6)."""

import pytest

from bigdata_group4_app_spark.operators import analytics
from bigdata_group4_app_spark.plans.churn import churn_customers

from .conftest import SF_CORRECT, SF_SMOKE, check_registered


@pytest.mark.parametrize("name", sorted(analytics.QUERIES))
def test_oracle_parity_sf001(spark, name):
    check_registered(spark, name, SF_CORRECT)


def test_churn_schema(spark):
    df = churn_customers(spark, SF_SMOKE)
    assert [f.name for f in df.schema.fields] == [
        "CustomerID",
        "Age",
        "Gender",
        "Tenure",
        "Usage Frequency",
        "Support Calls",
        "Payment Delay",
        "Subscription Type",
        "Contract Length",
        "Total Spend",
        "Last Interaction",
        "Churn",
    ]


def test_churn_rate_near_reference(spark):
    """Overall churn rate tracks the reference training base rate 63.19%
    (best_model.pkl learner_model_param) within 2pp per FIXTURES.md §4."""
    row = analytics.churn_stats(spark, SF_CORRECT).collect()[0]
    assert 60.0 < row["churn_rate_pct"] < 66.0
    assert row["total_customers"] == 1500


def test_entry_smoke(spark):
    import __spark_entry__ as e

    rows = e.entry(spark).collect()
    assert len(rows) == 1


def test_registry_consistency():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 5


def test_age_kde_oracle(spark):
    check_registered(spark, "age_kde", SF_SMOKE)


def test_with_customer_id_fallback(spark):
    from bigdata_group4_app_spark.functions.expressions import with_customer_id
    from bigdata_group4_app_spark.plans.churn import churn_customers

    df = churn_customers(spark, SF_SMOKE)
    # column present: untouched
    assert with_customer_id(df) is df
    # column absent: 1-based dense ordinals
    anon = df.drop("CustomerID")
    ids = sorted(
        r["CustomerID"] for r in with_customer_id(anon).select("CustomerID").collect()
    )
    assert ids == list(range(1, df.count() + 1))


def test_cached_table_is_persisted(spark):
    from bigdata_group4_app_spark.sources.registry import cached_table

    df = cached_table(spark, SF_SMOKE, "nation")
    try:
        assert df.storageLevel.useMemory
        assert df.count() == 25
    finally:
        df.unpersist()
