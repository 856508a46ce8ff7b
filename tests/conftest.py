"""Shared fixtures: one SparkSession per test session, the smoke and
correctness scale factors, and ``assert_matches_oracle``, which applies
the contract's per-query check (``scripts/drive_contract.py::compare``:
row count, column set, full-precision value hash, fetch-safe oracle
types). ``check_registered`` runs that check for a registered query."""

from __future__ import annotations

import pathlib
import sys

import pytest

from bigdata_group4_app_spark.registry import ORACLE_REGISTRY, QUERY_REGISTRY
from bigdata_group4_app_spark.session import get_spark

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "scripts"))
from drive_contract import compare, oracle_con  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


def jobs_during(spark, fn, tag: str):
    """Run ``fn()`` under job group ``tag``; return its result and the ids
    of the Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        result = fn()
    finally:
        sc.setJobGroup(f"{tag}-done", f"{tag}-done")
    return result, list(sc.statusTracker().getJobIdsForGroup(tag))


def assert_matches_oracle(spark_df, oracle_query: str, sf_dir: str):
    """Fail unless ``spark_df`` passes the contract check against the
    DuckDB ``oracle_query`` over the testdata tables at ``sf_dir``."""
    con = oracle_con(sf_dir)
    try:
        ok, report = compare("query", spark_df, con, oracle_query)
    finally:
        con.close()
    assert ok, report


def check_registered(spark, name: str, sf_dir: str):
    """``assert_matches_oracle`` for the registered query ``name`` against
    its registered oracle at ``sf_dir``."""
    assert_matches_oracle(
        QUERY_REGISTRY[name](spark, sf_dir), ORACLE_REGISTRY[name], sf_dir
    )
