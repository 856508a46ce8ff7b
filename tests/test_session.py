"""``session.get_spark``'s static confs, checked by their effect."""

from __future__ import annotations

from perfbench.workloads import WAREHOUSE_QUERIES

from bigdata_group4_app_spark.registry import QUERY_REGISTRY
from bigdata_group4_app_spark.session import codegen_compiles

from .conftest import SF_SMOKE


def _compiles_in_a_pass(spark, names) -> int:
    c0 = codegen_compiles(spark)
    for name in names:
        QUERY_REGISTRY[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
    return codegen_compiles(spark) - c0


def test_repeated_pass_compiles_no_generated_class(spark):
    """The generated-class cache holds a whole pass over the perfbench
    warehouse queries, so a second pass compiles nothing. The pass cycles
    through more classes than Spark's default 100-entry cache holds, and
    an LRU cache smaller than a cyclic working set misses on every
    lookup: with the default, every pass recompiles every class."""
    _compiles_in_a_pass(spark, WAREHOUSE_QUERIES)
    assert _compiles_in_a_pass(spark, WAREHOUSE_QUERIES) == 0
