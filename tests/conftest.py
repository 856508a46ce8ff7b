"""Shared fixtures: one SparkSession per test session + a DuckDB oracle
comparator that mirrors the driver's check (row-count + schema-width +
order-insensitive value comparison with FP tolerance)."""

from __future__ import annotations

import math

import duckdb
import pytest

from bigdata_group4_app_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


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


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh DuckDB connection with the testdata tables registered as views,
    exactly like the driver does."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    try:  # Decimal and numpy scalars
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 6)
    except Exception:
        pass
    return v


def assert_matches_oracle(spark_df, oracle_query: str, sf_dir: str):
    """Order-insensitive comparison of a Spark result vs DuckDB SQL."""
    con = duck_con(sf_dir)
    try:
        oracle_rows = con.execute(oracle_query).fetchall()
        oracle_cols = [d[0] for d in con.description]
    finally:
        con.close()

    spark_cols = spark_df.columns
    assert sorted(spark_cols) == sorted(oracle_cols), (
        f"column mismatch: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
    )
    spark_rows = [tuple(r) for r in spark_df.collect()]
    assert len(spark_rows) == len(oracle_rows), (
        f"row count mismatch: spark={len(spark_rows)} oracle={len(oracle_rows)}"
    )

    # align column order by sorted name, then compare as multisets
    s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
    o_idx = [oracle_cols.index(c) for c in sorted(oracle_cols)]
    # sort key stringifies cells (the driver does the same) so NULL-bearing
    # rows are orderable; equality still compares the typed tuples
    def _key(row):
        return tuple(str(c) for c in row)

    s_set = sorted(
        (tuple(_norm_cell(r[i]) for i in s_idx) for r in spark_rows),
        key=_key,
    )
    o_set = sorted(
        (tuple(_norm_cell(r[i]) for i in o_idx) for r in oracle_rows),
        key=_key,
    )
    for a, b in zip(s_set, o_set):
        assert a == b, f"row mismatch:\n  spark : {a}\n  oracle: {b}"
