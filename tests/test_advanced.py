"""Advanced-operator tests: oracle parity (as-of vs DuckDB native ASOF
JOIN, rollup, set ops, cardinalities) plus the HyperLogLog approximation
bound that justifies approx_count_distinct as the at-scale path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_group4_app_spark.operators.advanced import QUERIES
from bigdata_group4_app_spark.sources.registry import load_table

from .conftest import SF_CORRECT, SF_SMOKE, check_registered


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_advanced_oracle(spark, name):
    check_registered(spark, name, SF_SMOKE)


def test_scd2_intervals_tile(spark):
    """SCD Type-2 invariants: per customer, versions are consecutive from
    1, each row's effective_to equals the next row's effective_from (no
    gaps, no overlaps), and exactly the last row is open-ended/current."""
    rows = QUERIES["scd2_priority_history"](spark, SF_SMOKE).collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r["c_custkey"], []).append(r)
    assert by_cust
    for hist in by_cust.values():
        hist.sort(key=lambda r: r["version"])
        assert [r["version"] for r in hist] == list(range(1, len(hist) + 1))
        for a, b in zip(hist, hist[1:]):
            assert a["effective_to"] == b["effective_from"]
            assert a["is_current"] == 0
            assert a["priority"] != b["priority"]
        assert hist[-1]["effective_to"] is None
        assert hist[-1]["is_current"] == 1


def test_pit_lookup_consistent_with_scd2_intervals(spark):
    """Every point-in-time lookup must land inside the SCD2 validity
    interval it claims: effective_from <= order_day < effective_to."""
    hist = {
        (r["c_custkey"], r["version"]): r
        for r in QUERIES["scd2_priority_history"](spark, SF_SMOKE).collect()
    }
    pit = QUERIES["pit_priority_lookup"](spark, SF_SMOKE).collect()
    assert pit
    for r in pit:
        v = hist[(r["c_custkey"], r["pit_version"])]
        assert v["priority"] == r["pit_priority"]
        assert v["effective_from"] <= r["order_day"]
        assert v["effective_to"] is None or r["order_day"] < v["effective_to"]


def test_cdc_apply_exercises_all_actions(spark):
    """Guard the cutoff: if CDC_CUTOFF drifts outside the event stream's
    time range the merge degenerates to all-inserted and the operator
    stops testing anything. Expect inserts, updates AND deletes."""
    from collections import Counter

    actions = Counter(
        r["cdc_action"]
        for r in QUERIES["cdc_apply"](spark, SF_SMOKE).collect()
    )
    assert {"inserted", "updated", "deleted"} <= set(actions)


def test_approx_count_distinct_within_5pct(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    row = ev.agg(
        F.countDistinct("event_id").alias("exact"),
        F.approx_count_distinct("event_id").alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_ks_cogroup_handles_one_sided_users(spark):
    """A user present on only one side must be dropped cleanly (inner
    cogroup semantics) — the empty-frame branch returns the declared
    schema, not a crash."""
    from bigdata_group4_app_spark.operators.advanced import _ks_cogroup

    clicks = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (1, 3.0), (2, 5.0)], ["user_id", "value"]
    )
    purchases = spark.createDataFrame(
        [(1, 2.5), (1, 9.0), (3, 4.0)], ["user_id", "p_value"]
    )
    rows = {r["user_id"]: r for r in _ks_cogroup(clicks, purchases).collect()}
    # users 2 (no purchases) and 3 (no clicks) dropped; user 1 survives
    assert set(rows) == {1}
    r = rows[1]
    assert (r["n_clicks"], r["n_purchases"]) == (3, 2)
    # exact KS for {1,2,3} vs {2.5,9}: max|F1-F2| at x=2 → |2/3 - 0| = 0.6667
    assert r["ks"] == 0.6667


def test_percentile_approx_close_to_exact(spark):
    """value_percentiles documents percentile_approx as the 100 TB swap for
    the exact sort-based form — pin that the sketch stays within 2% of
    exact on the event values (accuracy parameter 10000)."""
    ev = load_table(spark, SF_SMOKE, "events")
    row = ev.agg(
        F.expr("percentile(value, 0.5)").alias("exact"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.02


def test_hll_sketch_merge_matches_exact_within_5pct(spark):
    """The 100 TB cardinality path: per-partition HLL sketches merged with
    hll_union_agg — mergeability is what lets distinct counts roll up
    across days/shards without re-scanning raw data. Estimate must land
    within the sketch's error envelope of the exact count."""
    from bigdata_group4_app_spark.sources.registry import load_table

    from .conftest import SF_CORRECT

    ev = load_table(spark, SF_CORRECT, "events")
    exact = ev.select("user_id").distinct().count()
    # two half-corpus sketches, unioned — simulates per-shard rollup
    halves = ev.withColumn("shard", F.col("event_id") % 2)
    sketches = halves.groupBy("shard").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    est = sketches.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    ).collect()[0]["est"]
    assert abs(est - exact) / exact < 0.05


def test_observation_metrics_ride_the_query(spark):
    """df.observe attaches accumulator metrics to a query without a second
    scan — the production hook for row-count / null-count data-quality
    gates on every pipeline stage."""
    from pyspark.sql import Observation

    from bigdata_group4_app_spark.sources.registry import load_table

    from .conftest import SF_CORRECT

    obs = Observation("quality")
    ev = load_table(spark, SF_CORRECT, "events").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
    )
    n = ev.count()
    assert obs.get["n_rows"] == n
    assert obs.get["null_values"] == 0


def test_cohort_retention_broadcasts_sizes(spark):
    """The cohort-size relation must join broadcast (it's |weeks| rows) —
    a shuffled join here would re-shuffle the whole cell relation."""
    from bigdata_group4_app_spark.operators.advanced import cohort_retention

    from .conftest import SF_CORRECT

    plan = (
        cohort_retention(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_heavy_hitters_uses_topk_not_global_sort(spark):
    """Top-K must plan as TakeOrderedAndProject (per-partition heaps) —
    a global Sort before limit would single-thread the key table."""
    from bigdata_group4_app_spark.operators.advanced import heavy_hitters

    from .conftest import SF_CORRECT

    plan = (
        heavy_hitters(spark, SF_CORRECT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_attribution_models_consistent(spark):
    """Model invariants on the same pair set: per-day linear totals sum to
    the same grand total as first-touch and last-touch (each purchase's
    value is allocated exactly once per model), and the pair count equals
    the 24h window-join pair count."""
    from bigdata_group4_app_spark.operators.advanced import (
        attribution_models_daily,
    )

    rows = attribution_models_daily(spark, SF_CORRECT).collect()
    assert rows
    ft = sum(r["first_touch_rev"] or 0 for r in rows)
    lt = sum(r["last_touch_rev"] or 0 for r in rows)
    lin = sum(r["linear_rev"] or 0 for r in rows)
    # every model allocates each attributed purchase's full value once
    assert abs(ft - lt) < 1e-2
    assert abs(ft - lin) < 1e-2
    # multi-touch structure actually present (linear differs per day)
    assert any(
        abs((r["first_touch_rev"] or 0) - (r["linear_rev"] or 0)) > 1e-6
        for r in rows
    )


def test_dau_wau_replay(spark):
    """WAU replayed as brute-force distinct-user unions over trailing
    7-day windows; stickiness bounds hold (DAU ≤ WAU)."""
    from bigdata_group4_app_spark.operators.advanced import (
        dau_wau_stickiness,
    )

    pairs = {
        (r["day"], r["user_id"])
        for r in load_table(spark, SF_SMOKE, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .collect()
    }
    days = sorted({d for d, _ in pairs})
    got = {
        r["day"]: (r["dau"], r["wau"], r["stickiness"])
        for r in dau_wau_stickiness(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(days)
    import datetime

    for d in days:
        dau = len({u for dd, u in pairs if dd == d})
        wau = len(
            {
                u
                for dd, u in pairs
                if d - datetime.timedelta(days=6) <= dd <= d
            }
        )
        assert got[d][0] == dau
        assert got[d][1] == wau
        assert dau <= wau
        assert abs(got[d][2] - round(dau / wau, 4)) < 1e-9


def test_daily_anomalies_replay(spark):
    """Flagged cells replayed from raw daily counts with per-(type, dow)
    mean/sample-std baselines."""
    import statistics
    from collections import defaultdict

    from bigdata_group4_app_spark.operators.advanced import (
        ANOMALY_Z,
        daily_anomalies,
    )

    ev = load_table(spark, SF_CORRECT, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    ).collect()
    counts: dict = defaultdict(int)
    for r in ev:
        counts[(r["day"], r["event_type"])] += 1
    groups: dict = defaultdict(list)
    for (day, et), n in counts.items():
        dow = day.isoweekday() % 7 + 1  # Spark dayofweek: 1=Sunday
        groups[(et, dow)].append((day, n))
    want = {}
    for (et, dow), cells in groups.items():
        ns = [n for _, n in cells]
        if len(ns) < 2:
            continue
        mu = sum(ns) / len(ns)
        sigma = statistics.stdev(ns)
        if sigma <= 0:
            continue
        for day, n in cells:
            z = round((n - mu) / sigma, 4)
            if abs(z) >= ANOMALY_Z:
                want[(day, et)] = (n, z)
    got = {
        (r["day"], r["event_type"]): (r["n_events"], r["z_score"])
        for r in daily_anomalies(spark, SF_CORRECT).collect()
    }
    assert got
    assert set(got) == set(want)
    for k in got:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-3


def test_bucket_checksum_diff_flags_exactly_drifted_buckets(spark):
    """A bucket is flagged iff it contains a drifted order; clean buckets
    carry equal counts and checksums."""
    from bigdata_group4_app_spark.operators.advanced import (
        DIFF_BUCKETS,
        DRIFT_MOD,
        bucket_checksum_diff,
    )

    orders = load_table(spark, SF_CORRECT, "orders").collect()
    drifted_buckets = {
        r["o_custkey"] % DIFF_BUCKETS
        for r in orders
        if r["o_orderkey"] % DRIFT_MOD == 7
    }
    assert drifted_buckets  # the simulation actually drifts something
    rows = bucket_checksum_diff(spark, SF_CORRECT).collect()
    assert len(rows) == DIFF_BUCKETS
    for r in rows:
        want_match = 0 if r["bucket"] in drifted_buckets else 1
        assert r["is_match"] == want_match, r
        assert r["n_a"] == r["n_b"]  # drift mutates, never drops rows


def test_psi_reference_week_is_zero_and_psi_nonnegative(spark):
    """PSI is an f-divergence: 0 against itself (the reference week),
    >= 0 everywhere, and the Laplace-smoothed shares it uses must sum
    to 1 per week by construction."""
    from bigdata_group4_app_spark.operators.advanced import psi_value_drift

    from .conftest import SF_CORRECT

    rows = psi_value_drift(spark, SF_CORRECT).collect()
    assert len(rows) >= 2
    weeks = [r["week"] for r in rows]
    assert weeks == sorted(weeks)
    ref = rows[0]
    assert ref["psi"] == 0.0
    for r in rows:
        assert r["psi"] >= 0.0
        assert r["n_events"] > 0


def test_markov_backtest_accuracy_is_mode_share(spark):
    """The mode predictor's in-sample accuracy per from-type is BY
    DEFINITION the modal transition probability — replay from
    event_transitions."""
    from bigdata_group4_app_spark.operators.advanced import (
        event_transitions,
        markov_next_event_accuracy,
    )

    from .conftest import SF_CORRECT

    trans: dict = {}
    for r in event_transitions(spark, SF_CORRECT).collect():
        trans.setdefault(r["from_type"], []).append(
            (r["to_type"], r["n_transitions"])
        )
    got = {
        r["from_type"]: r
        for r in markov_next_event_accuracy(spark, SF_CORRECT).collect()
    }
    assert set(got) == set(trans)
    for ft, tos in trans.items():
        total = sum(n for _, n in tos)
        mode_to, mode_n = min(tos, key=lambda t: (-t[1], t[0]))
        r = got[ft]
        assert r["predicted_next"] == mode_to
        assert r["n_transitions"] == total
        assert abs(r["accuracy"] - mode_n / total) < 1e-3
