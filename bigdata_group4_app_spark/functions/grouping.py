"""GROUPING SETS whose grand total keeps its row over empty input.

SQL gives the empty grouping set ``()`` one row even when the input is
empty (count 0, other aggregates NULL), as the DuckDB oracle does. Spark
plans ``rollup``/``cube``/``groupingSets`` as one Expand plus one
aggregate keyed by the grouping id, and an aggregate with keys emits no
row over no input, so its grand total vanishes with the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def grouping_sets_with_total(
    rel: DataFrame, sets: list[list[str]], keys: list[str], aggs: list[Column]
) -> DataFrame:
    """``rel.groupingSets(sets + [[]], *keys).agg(*aggs)``, grand total
    row included over empty input.

    The non-empty ``sets`` stay one Expand plus one aggregate; the grand
    total is a global aggregate (no keys, so always one row) with NULL
    keys, unioned by name. ``sets`` must not hold the empty set."""
    grouped = rel.groupingSets(sets, *keys).agg(*aggs)
    total = rel.agg(*aggs)
    nulls = [F.lit(None).cast(rel.schema[k].dataType).alias(k) for k in keys]
    return grouped.unionByName(total.select(*nulls, *total.columns))
