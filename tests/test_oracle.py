"""Every registered query that no family test checks, against its DuckDB
oracle at sf0.01, through the one oracle comparator
(``assert_matches_oracle`` -> ``drive_contract.compare``); tests that
pin what that comparator rejects; and the all-empty-tables variant for
the queries fixed to match it."""

from __future__ import annotations

import math
import pathlib

import pytest

from bigdata_group4_app_spark.ml import scoring
from bigdata_group4_app_spark.operators import (
    analytics,
    corpus,
    dedup,
    relational,
    similarity,
    sketches,
    sql_surface,
    stats,
    text,
)
from bigdata_group4_app_spark.registry import ORACLE_REGISTRY, QUERY_REGISTRY

from .conftest import (
    SF_CORRECT,
    SF_SMOKE,
    assert_matches_oracle,
    check_registered,
)
from .test_round4 import ORACLE_CHECKED

# Registered queries whose SF_CORRECT oracle check is a family test's, run
# under that test's own id; test_oracle checks every other registered
# query. The checks at a second SF (sf0.001, sf0.1) are all family tests,
# and each says why it needs that SF.
FAMILY_CHECKED = {
    *analytics.QUERIES,  # test_analytics::test_oracle_parity_sf001
    *corpus.QUERIES,  # test_corpus::test_corpus_oracle_parity
    *text.QUERIES,  # test_llm_pipeline::test_text_oracle_parity
    *dedup.QUERIES,  # test_llm_pipeline::test_dedup_oracle_parity
    *similarity.ORACLE,  # test_llm_pipeline::test_similarity_oracle_parity
    *relational.QUERIES,  # test_relational::test_oracle_parity
    *scoring.QUERIES,  # test_scoring::test_oracle_parity
    *sketches.QUERIES,  # test_sketches::test_sketch_oracle_parity
    *sql_surface.QUERIES,  # test_sql_surface::test_modern_sql_oracle_parity
    *stats.QUERIES,  # test_stats::test_stats_oracle_parity
    *(name for _, name in ORACLE_CHECKED),  # test_round4
    "trade_network_pagerank",  # test_graph::test_pagerank_oracle_parity
    "zorder_tile_stats",  # test_layout::test_zorder_oracle_parity
    "layout_skipping_compare",  # test_layout::test_layout_skipping_parity
    "dq_rule_violations",  # test_quality::test_dq_oracle_parity
}


@pytest.mark.parametrize("name", sorted(set(ORACLE_REGISTRY) - FAMILY_CHECKED))
def test_oracle(spark, name):
    check_registered(spark, name, SF_CORRECT)


def test_comparator_rejects_negative_zero(spark):
    df = spark.createDataFrame([(-0.0,)], "x double")
    assert math.copysign(1.0, df.collect()[0]["x"]) == -1.0
    with pytest.raises(AssertionError, match="MISMATCH"):
        assert_matches_oracle(df, "SELECT CAST(0.0 AS DOUBLE) AS x", SF_SMOKE)


def test_comparator_rejects_1e7_difference(spark):
    df = spark.createDataFrame([(0.5,)], "x double")
    with pytest.raises(AssertionError, match="MISMATCH"):
        assert_matches_oracle(
            df, "SELECT CAST(0.5000001 AS DOUBLE) AS x", SF_SMOKE
        )


def test_comparator_rejects_hugeint_sum(spark):
    """DuckDB ``sum()`` over integers is HUGEINT (arrow decimal128), which
    a fetch through the contract renders unlike Spark's BIGINT even when
    equal."""
    df = spark.createDataFrame([(3,)], "s bigint")
    with pytest.raises(AssertionError, match="TYPE-HAZARD"):
        assert_matches_oracle(
            df, "SELECT sum(x) AS s FROM (VALUES (1), (2)) t(x)", SF_SMOKE
        )


@pytest.mark.parametrize(
    "name",
    [
        "customer_year_sets",
        "dedup_exact_summary",
        "events_profile",
        # ANSI DIVIDE_BY_ZERO on an empty denominator
        "bloom_filter_fpr_audit",
        "cmh_stratified_test",
        "ipw_churn_ate",
        "jackknife_ratio_se",
        # slice() length below 0 on an empty day series
        "ewma_control_chart",
        "holt_winters_daily",
        # the grand-total row of GROUPING SETS / ROLLUP / CUBE, and a
        # global row derived through a window over no rows
        "revenue_rollup",
        "grouping_sets_revenue",
        "event_type_hour_cube",
        "priority_region_sets",
        "welch_ttest_spend",
    ],
)
def test_empty_input_aggregates_are_zero(spark, tmp_path, name):
    """Over empty tables a global count or sum is 0 in the oracle, never
    NULL, a ratio over an empty denominator is NULL, never an ANSI error,
    a series fold over no days raises nothing, and a grand total or a
    global statistics row is still one row: every sf0.001 table, sliced
    to 0 rows with its schema kept."""
    import pyarrow.parquet as pq

    for src in pathlib.Path(SF_SMOKE).glob("*.parquet"):
        pq.write_table(pq.read_table(src).slice(0, 0), tmp_path / src.name)
    assert_matches_oracle(
        QUERY_REGISTRY[name](spark, str(tmp_path)), ORACLE_REGISTRY[name], str(tmp_path)
    )
