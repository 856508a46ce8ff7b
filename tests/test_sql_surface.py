"""The same engine through spark.sql(): register the star schema as temp
views and author queries in SQL — results must equal the DataFrame API
forms (they compile to the same Catalyst plans)."""

from __future__ import annotations

import pytest

from bigdata_group4_app_spark.operators import sql_surface
from bigdata_group4_app_spark.operators.relational import revenue_by_region
from bigdata_group4_app_spark.plans.churn import churn_select_sql
from bigdata_group4_app_spark.sources.registry import SCHEMAS, load_table

from .conftest import (
    SF_CORRECT,
    SF_SMOKE,
    assert_matches_oracle,
    check_registered,
)


def _register_views(spark):
    for name in SCHEMAS:
        load_table(spark, SF_SMOKE, name).createOrReplaceTempView(name)


def test_sql_equals_dataframe_api(spark):
    _register_views(spark)
    got = spark.sql(
        """
        SELECT r_name,
               round(sum(o_totalprice), 4) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name
        """
    ).collect()
    want = revenue_by_region(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_churn_derivation_sql_rendering(spark):
    """The dual-rendered churn derivation (backtick dialect) runs under
    spark.sql and matches the DataFrame derivation row-for-row."""
    from bigdata_group4_app_spark.plans.churn import churn_customers

    _register_views(spark)
    sql_rows = spark.sql(churn_select_sql(quote="`")).orderBy("CustomerID").collect()
    df_rows = churn_customers(spark, SF_SMOKE).orderBy("CustomerID").collect()
    assert [tuple(r) for r in sql_rows] == [tuple(r) for r in df_rows]


def test_correlated_subquery_decorrelates(spark):
    """The correlated-subquery operator must analyze into joins/aggregates
    (decorrelation) and its per-nation counts must be internally
    consistent: 0 < n_above < n_customers for every nation (a strict-
    average threshold can't be beaten by everyone or no one when
    balances differ)."""
    from bigdata_group4_app_spark.operators.relational import (
        above_nation_avg_customers,
    )

    df = above_nation_avg_customers(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "scalar-subquery" not in plan.lower(), plan[:2000]
    rows = df.collect()
    assert rows
    for r in rows:
        assert 0 < r["n_above"] < r["n_customers"]


def test_event_transitions_probabilities(spark):
    """Each from_type's outgoing probabilities sum to 1 (within the 4dp
    rounding budget of |types| cells)."""
    from collections import defaultdict

    from bigdata_group4_app_spark.operators.advanced import event_transitions

    sums = defaultdict(float)
    for r in event_transitions(spark, SF_SMOKE).collect():
        sums[r["from_type"]] += r["prob"]
    assert sums
    for v in sums.values():
        assert abs(v - 1.0) < 5e-4


def test_domain_mix_weights_rebalance(spark):
    """mix_weight × token_share must be ~uniform across sources — that is
    the definition of the rebalancing weight."""
    from bigdata_group4_app_spark.operators.corpus import domain_mix_weights

    rows = domain_mix_weights(spark, SF_SMOKE).collect()
    n = len(rows)
    assert n > 1
    for r in rows:
        assert abs(r["mix_weight"] * r["token_share"] - 1.0 / n) < 1e-3


def test_queries_self_heal_on_foreign_session_conf(spark):
    """The driver hands queries ITS OWN SparkSession. tune_session (called
    inside every load_table) must repair semantics-bearing confs — pin it
    by skewing the session timezone and checking a timestamp-sensitive
    query still matches its oracle."""
    from bigdata_group4_app_spark.operators import relational

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = relational.events_hourly(spark, SF_CORRECT)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert_matches_oracle(
            df, relational.ORACLE["events_hourly"], SF_CORRECT
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


@pytest.mark.parametrize("name", sorted(sql_surface.QUERIES))
def test_modern_sql_oracle_parity(spark, name):
    check_registered(spark, name, SF_CORRECT)


def test_recursive_projection_replay(spark):
    """The recursion must be exactly base × rateⁿ per region (replayed in
    Python with the same stepwise multiply chain)."""
    rows = sql_surface.revenue_compound_projection(
        spark, SF_SMOKE
    ).collect()
    by_region: dict = {}
    for r in rows:
        by_region.setdefault(r["region"], {})[r["month"]] = r["projected"]
    assert by_region
    for region, months in by_region.items():
        assert sorted(months) == list(range(sql_surface.PROJ_MONTHS + 1))
        val = months[0]
        for m in range(1, sql_surface.PROJ_MONTHS + 1):
            val = val * sql_surface.PROJ_RATE
            assert abs(months[m] - round(val, 4)) < 1e-2, (region, m)


def test_variant_profile_agrees_with_json_stats(spark):
    """VARIANT extraction must agree with the get_json_object pipeline on
    the shared statistic (per-type row counts)."""
    from bigdata_group4_app_spark.operators.relational import (
        props_json_stats,
    )

    variant = {
        r["event_type"]: r["n_events"]
        for r in sql_surface.props_variant_profile(
            spark, SF_CORRECT
        ).collect()
    }
    json_rows = props_json_stats(spark, SF_CORRECT).collect()
    json_counts = {r["event_type"]: r["n_events"] for r in json_rows}
    assert variant == json_counts


def test_lateral_topn_decorrelates_to_window_group_limit(spark):
    """The correlated LATERAL-with-LIMIT must plan as the per-group
    window-heap shape (WindowGroupLimit + equi-join), never a nested
    loop over regions × customers — the property that keeps the SQL
    surface usable at fact-table scale."""
    df = sql_surface.lateral_region_top_customers(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "nestedloop" not in plan.lower(), plan[:2000]
    rows = df.collect()
    from collections import Counter

    per_region = Counter(r["region"] for r in rows)
    assert all(v == sql_surface.LATERAL_TOP_N for v in per_region.values())


def test_unpivot_is_long_form_of_wide_agg(spark):
    """UNPIVOT output replays the wide aggregate cell-for-cell."""
    import math

    rows = sql_surface.unpivot_returnflag_metrics(spark, SF_CORRECT).collect()
    li = load_table(spark, SF_CORRECT, "lineitem")
    from pyspark.sql import functions as F

    wide = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_price"),
            F.avg("l_discount").alias("avg_disc"),
        )
        .collect()
    }
    assert len(rows) == 3 * len(wide)
    for r in rows:
        assert math.isclose(
            r["value"], wide[r["l_returnflag"]][r["metric"]], rel_tol=1e-9, abs_tol=1e-4
        )
