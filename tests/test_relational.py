"""Oracle-parity tests for joins / windows / time-bucketed aggregation."""

import pytest

from bigdata_group4_app_spark.operators import relational

from .conftest import SF_CORRECT, check_registered


@pytest.mark.parametrize("name", sorted(relational.QUERIES))
def test_oracle_parity(spark, name):
    check_registered(spark, name, SF_CORRECT)


def test_broadcast_in_plan(spark):
    """Dimension joins must be broadcast, not shuffled (scale contract)."""
    plan = relational.revenue_by_region(spark, SF_CORRECT)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_plan_is_take_ordered(spark):
    """orderBy+limit must plan TakeOrderedAndProject, not a global sort."""
    plan = relational.top_customers_by_revenue(spark, SF_CORRECT)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_ohlc_open_close_are_first_last(spark):
    """Open/close replayed from raw rows sorted by (ts, event_id)."""
    from collections import defaultdict

    from .conftest import SF_SMOKE

    raw = defaultdict(list)
    ev = relational.load_table(spark, SF_SMOKE, "events").collect()
    for r in ev:
        key = (r["event_type"], r["ts"].replace(minute=0, second=0, microsecond=0))
        raw[key].append((r["ts"], r["event_id"], r["value"]))
    got = relational.ohlc_hourly_bars(spark, SF_SMOKE).collect()
    assert len(got) == len(raw)
    for r in got:
        rows = sorted(raw[(r["event_type"], r["bar_hour"])])
        assert r["open"] == rows[0][2]
        assert r["close"] == rows[-1][2]
        assert r["high"] == max(x[2] for x in rows)
        assert r["low"] == min(x[2] for x in rows)
        assert r["n_events"] == len(rows)
