"""Modern SQL-surface operators (Spark 4): recursive CTEs, the VARIANT
semi-structured type, and pipe-syntax queries — each oracle-checked so the
NEW surfaces are held to the same correctness bar as the DataFrame API.

Why these matter for an engine at scale:
  * ``WITH RECURSIVE`` moves bounded iterative logic (projections,
    date spines, bill-of-materials walks) INTO one Catalyst plan instead
    of a driver loop of collect/re-submit round trips. Spark 4 supports
    UNION ALL recursion (cycle-free/bounded shapes; cyclic transitive
    closure still needs the iterative-DataFrame loop in
    ``operators/dedup.py::near_dup_clusters``).
  * ``VARIANT`` parses semi-structured JSON ONCE into a binary-encoded
    value; repeated ``variant_get`` extractions skip re-parsing the
    string per field — the at-scale answer to get_json_object chains
    (compare ``props_json_stats``, which re-parses per extraction).
  * pipe syntax (``|>``) is the linear form of multi-stage SQL — each
    stage compiles to exactly the nested form's plan (asserted by the
    shared oracle).

Each query registers the needed temp views itself (idempotent
``createOrReplaceTempView`` over the standard loaders — the views resolve
to the same pruned parquet scans as the DataFrame forms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.registry import load_table

PROJ_MONTHS = 12
PROJ_RATE = 1.02  # +2% per projected month


def revenue_compound_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """12-month compound revenue projection per region off the actual
    revenue base — ``WITH RECURSIVE`` as one plan: each recursion step is
    one projected month (UNION ALL, depth-bounded by the WHERE guard, 25
    regions × 12 rows total).

    The float chain (base × 1.02ⁿ, stepwise) runs the same multiply
    sequence on both engines from a 4dp-rounded base, so the values are
    bit-identical before the output round. DuckDB runs the textually
    identical recursion.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "region").createOrReplaceTempView("region")
    return spark.sql(_PROJECTION_SQL)


_PROJECTION_SQL = f"""
WITH RECURSIVE base AS (
  SELECT r_name AS region, round(sum(o_totalprice), 4) AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name
),
proj(region, month, projected) AS (
  SELECT region, 0, revenue FROM base
  UNION ALL
  SELECT region, month + 1, projected * CAST({PROJ_RATE} AS DOUBLE)
  FROM proj WHERE month < {PROJ_MONTHS}
)
SELECT region, month, round(projected, 4) AS projected
FROM proj
ORDER BY region, month
"""


def props_variant_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type profile of the JSON ``props`` payload through the
    VARIANT type: ``parse_json`` once, typed ``variant_get`` extraction
    after — the binary-encoded VARIANT is parsed a single time per row
    however many fields are later extracted, where the
    ``get_json_object`` form (``props_json_stats``) re-parses the string
    per call. Integer aggregates, engine-exact.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql("""
SELECT event_type,
  count(*) AS n_events,
  count(DISTINCT variant_get(parse_json(props), '$.k', 'bigint'))
    AS n_distinct_k,
  min(variant_get(parse_json(props), '$.k', 'bigint')) AS min_k,
  max(variant_get(parse_json(props), '$.k', 'bigint')) AS max_k,
  sum(variant_get(parse_json(props), '$.k', 'bigint')) AS sum_k
FROM events
GROUP BY event_type
ORDER BY event_type
""")


def priority_revenue_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority revenue rollup written in Spark 4 pipe syntax —
    the stages read top-to-bottom and compile to the identical plan as
    the nested form (the DuckDB oracle IS the nested form)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
FROM orders
|> WHERE o_orderstatus = 'F'
|> AGGREGATE count(*) AS n_orders,
     round(sum(o_totalprice), 4) AS revenue
   GROUP BY o_orderpriority
|> ORDER BY o_orderpriority
""")


LATERAL_TOP_N = 3


def lateral_region_top_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-region top-3 customers by account balance via a correlated
    LATERAL subquery — the SQL-standard form of "top-n per group". Spark
    plans the correlated limit as a per-group window under the hood
    (DomainJoin → rank filter), so the LATERAL surface costs the same as
    the hand-written row_number() plan: one shuffle on the group key,
    per-partition heaps, never a nested loop over regions × customers.
    Ties are impossible in the sort (acctbal DESC, then c_name) so both
    engines pick identical rows."""
    for t in ("region", "nation", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(f"""
SELECT r.r_name AS region, t.c_name, round(t.c_acctbal, 2) AS acctbal
FROM region r,
LATERAL (
  SELECT c.c_name, c.c_acctbal
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  ORDER BY c.c_acctbal DESC, c.c_name
  LIMIT {LATERAL_TOP_N}
) t
ORDER BY region, t.c_acctbal DESC, t.c_name
""")


def unpivot_returnflag_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wide→long reshape with the SQL-standard UNPIVOT clause (Spark 3.4+/
    DuckDB share the syntax): per-returnflag sum/avg metrics become
    (metric, value) rows. UNPIVOT compiles to an Expand over the THREE
    metric columns of the 3-row aggregate — the expansion happens after
    the agg, so the corpus-sized scan is untouched; contrast with
    exploding before aggregating, which would triple the shuffle. The
    pre-agg uses GROUP BY ALL (Spark 4 + DuckDB both resolve it to the
    non-aggregate columns)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("""
SELECT l_returnflag, metric, round(value, 4) AS value FROM (
  SELECT l_returnflag,
    CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
    CAST(sum(l_extendedprice) AS DOUBLE) AS sum_price,
    CAST(avg(l_discount) AS DOUBLE) AS avg_disc
  FROM lineitem GROUP BY ALL
) UNPIVOT (value FOR metric IN (sum_qty, sum_price, avg_disc))
ORDER BY l_returnflag, metric
""")


ORACLE: dict[str, str] = {
    "revenue_compound_projection": _PROJECTION_SQL,
    "props_variant_profile": """
SELECT event_type,
  count(*) AS n_events,
  count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT))
    AS n_distinct_k,
  CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    "priority_revenue_pipe": """
SELECT o_orderpriority, count(*) AS n_orders,
  round(sum(o_totalprice), 4) AS revenue
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    "lateral_region_top_customers": f"""
SELECT r.r_name AS region, t.c_name, round(t.c_acctbal, 2) AS acctbal
FROM region r,
LATERAL (
  SELECT c.c_name, c.c_acctbal
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  ORDER BY c.c_acctbal DESC, c.c_name
  LIMIT {LATERAL_TOP_N}
) t
ORDER BY region, t.c_acctbal DESC, t.c_name
""",
    "unpivot_returnflag_metrics": """
SELECT l_returnflag, metric, round(value, 4) AS value FROM (
  SELECT l_returnflag,
    CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
    CAST(sum(l_extendedprice) AS DOUBLE) AS sum_price,
    CAST(avg(l_discount) AS DOUBLE) AS avg_disc
  FROM lineitem GROUP BY ALL
) UNPIVOT (value FOR metric IN (sum_qty, sum_price, avg_disc))
ORDER BY l_returnflag, metric
""",
}

QUERIES = {
    "revenue_compound_projection": revenue_compound_projection,
    "props_variant_profile": props_variant_profile,
    "priority_revenue_pipe": priority_revenue_pipe,
    "lateral_region_top_customers": lateral_region_top_customers,
    "unpivot_returnflag_metrics": unpivot_returnflag_metrics,
}


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with ``grouping_id`` disambiguation: order revenue
    at four explicit granularities — (region, priority), (region),
    (priority), grand total. Unlike stacked UNION ALL aggregates (one
    scan + shuffle per set), Catalyst's Expand node replicates each input
    row once per set map-side, so the three keyed sets cost a single
    scan and a single partial-aggregating shuffle; ``rollup``/``cube``
    (``revenue_rollup``, ``event_type_hour_cube``) are the closed
    lattices, this is the hand-picked one. The grand total is a global
    aggregate (gid 3, NULL keys) under UNION ALL: Spark's grouping-set
    aggregate is keyed by the grouping id and emits no row over empty
    input, where SQL (and the oracle) give the grand total its row.
    ``grouping_id()`` (Spark) ≡ ``GROUPING(...)`` bit concatenation
    (DuckDB) distinguishes a real NULL group key from a superaggregate
    NULL; revenue rounds 2dp in-query (sums of 2dp decimals-as-doubles —
    interior rounding keeps both engines on the shortest-repr path).
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "region").createOrReplaceTempView("region")
    return spark.sql(
        """
        WITH j AS (
          SELECT r_name, o_orderpriority, o_totalprice
          FROM orders
          JOIN customer ON c_custkey = o_custkey
          JOIN nation ON n_nationkey = c_nationkey
          JOIN region ON r_regionkey = n_regionkey
        )
        SELECT r_name AS region, o_orderpriority AS priority,
          grouping_id(r_name, o_orderpriority) AS gid,
          CAST(count(*) AS BIGINT) AS n_orders,
          round(sum(o_totalprice), 2) AS revenue
        FROM j
        GROUP BY GROUPING SETS ((r_name, o_orderpriority), (r_name), (o_orderpriority))
        UNION ALL
        SELECT NULL, NULL, CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
          round(sum(o_totalprice), 2)
        FROM j
        ORDER BY gid, region, priority
        """
    )


ORACLE["grouping_sets_revenue"] = """
SELECT r_name AS region, o_orderpriority AS priority,
  GROUPING(r_name) * 2 + GROUPING(o_orderpriority) AS gid,
  CAST(count(*) AS BIGINT) AS n_orders,
  round(sum(o_totalprice), 2) AS revenue
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY GROUPING SETS (
  (r_name, o_orderpriority), (r_name), (o_orderpriority), ()
)
ORDER BY gid, region, priority
"""
QUERIES["grouping_sets_revenue"] = grouping_sets_revenue
