"""Relational operators over the star schema: joins, multi-way joins,
windows, time-bucketed aggregation, top-k.

The reference app is single-table (SURVEY.md §2.4: no joins anywhere), but
the engine exposes the full relational surface Spark gives us — these queries
are the 100 TB scale path and the bench headliners.

Scale design notes:
  * BOUNDED dimension joins (region 5 rows, nation 25) are explicitly
    ``broadcast()`` — no shuffle of the fact table for that side.
    SF-LINEAR dims (customer, part, supplier and their slices) are NOT
    hint-forced: the strategy stays size-driven, so AQE broadcasts them
    while they fit and shuffles them at warehouse SF (round-9
    broadcast-honesty rule).
  * Fact-fact joins (orders ⋈ lineitem) shuffle on the join key; AQE picks
    sort-merge vs shuffled-hash and splits skewed partitions at runtime.
  * Top-k uses orderBy+limit → Spark plans TakeOrderedAndProject: each
    partition keeps k rows, the driver merges — no global sort.
  * All aggregates over doubles are rounded (4dp) in-query on BOTH engines
    so partial-aggregation summation order can't break the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.grouping import grouping_sets_with_total
from ..sources.registry import load_table

# ---------------------------------------------------------------------------
# Q1-style pricing summary: the canonical scan-heavy partial-agg query.
# ---------------------------------------------------------------------------

PRICING_CUTOFF = "1998-09-02"


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit(PRICING_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                4,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Top-k customers by order revenue: fact⋈dim join + agg + TakeOrdered top-k.
# ---------------------------------------------------------------------------


def top_customers_by_revenue(
    spark: SparkSession, sf_dir: str, k: int = 10
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # aggregate the fact table FIRST (shrinks to one row per customer) —
    # at 100 TB this is a partial agg, never a raw fact shuffle join. Both
    # join sides are then customer-key-sized (SF-linear), so the strategy
    # stays size-driven: no broadcast HINT — a forced broadcast of the
    # customer dim would not survive SF 100k (round-9 broadcast-honesty
    # rule: hint only relations bounded by CONSTRUCTION).
    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        rev.join(customer.select("c_custkey", "c_name"),
                 rev.o_custkey == F.col("c_custkey"))
        .select("c_custkey", "c_name", "revenue", "n_orders")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Revenue by region: 4-way star join (region ⋈ nation ⋈ customer ⋈ orders).
# Bounded dims (nation 25 rows / region 5) carry broadcast hints; the
# customer-sized slice is SF-linear so its join stays size-driven (AQE
# broadcasts it at test SF, shuffles it at warehouse SF).
# ---------------------------------------------------------------------------


def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = (
        customer.select("c_custkey", "c_nationkey")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("r_name")
    )


MV_DELTA_DAYS = 30  # delta window: orders in the trailing 30 days


def mv_delta_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance for per-region revenue:
    the base aggregate (orders before the cutoff) merged with the delta
    aggregate (trailing ``MV_DELTA_DAYS``), checked in-query against a
    full recompute. This is THE algebra that keeps a 100 TB rollup fresh
    — the delta scan touches only the new partitions (with the cutoff as
    a partition-pruning predicate on a date-partitioned store) while the
    base aggregate is a stored k-row relation; sum/count merge
    associatively so maintained == recomputed up to float rounding, and
    the ``drift`` column (4dp, negative-zero-guarded) makes the
    consistency check part of the result instead of a side assertion.

    One fact-table pass here (base and delta are CASE-split partial
    aggregates of the same scan — conditional aggregation, not two
    scans); the bounded nation/region hints and the scalar cutoff
    cross-join add no shuffle; the customer-sized dim join is
    size-driven.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = (
        customer.select("c_custkey", "c_nationkey")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name")
    )
    fact = orders.join(
        dim, orders.o_custkey == dim.c_custkey
    ).select("r_name", "o_totalprice", "o_orderdate")
    cut = fact.agg(
        (F.max("o_orderdate") - F.expr(f"INTERVAL {MV_DELTA_DAYS} DAYS")).alias(
            "cutoff"
        )
    )
    is_base = F.col("o_orderdate") < F.col("cutoff")
    parts = (
        fact.crossJoin(F.broadcast(cut))
        .groupBy("r_name")
        .agg(
            F.sum(F.when(is_base, 1).otherwise(0)).alias("base_orders"),
            F.sum(F.when(~is_base, 1).otherwise(0)).alias("delta_orders"),
            F.coalesce(
                F.round(F.sum(F.when(is_base, F.col("o_totalprice"))), 4),
                F.lit(0.0),
            ).alias("base_revenue"),
            F.coalesce(
                F.round(F.sum(F.when(~is_base, F.col("o_totalprice"))), 4),
                F.lit(0.0),
            ).alias("delta_revenue"),
            F.round(F.sum("o_totalprice"), 4).alias("recomputed_revenue"),
        )
    )
    maintained = F.round(F.col("base_revenue") + F.col("delta_revenue"), 4)
    return parts.select(
        "r_name",
        "base_orders",
        "delta_orders",
        "base_revenue",
        "delta_revenue",
        maintained.alias("maintained_revenue"),
        "recomputed_revenue",
        (
            F.round(maintained - F.col("recomputed_revenue"), 4) + F.lit(0.0)
        ).alias("drift"),
    ).orderBy("r_name")


def segment_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing (ntile) of customer balances within each market
    segment — the quantile-feature-engineering window. ntile assigns by
    row POSITION, so ties straddling a bucket boundary are arbitrary
    unless the order is total: the order is (acctbal, custkey) on both
    engines.

    Round 10 (VERDICT r9 item 3): each segment is SF-LINEAR, so the
    per-segment ntile window was a 5-reducer sort that grows with the
    corpus. Now the SHARED distributed two-pass rank
    (``functions/ranking.py::dist_ntile``) ranks within (segment,
    balance-range bucket): c_acctbal is value-bounded (-999.99..9999.99
    by TPC-H spec), so ``floor(c_acctbal / 1000)`` is an
    order-preserving ≤11-value bucket and the offset relation stays ≤55
    rows at ANY corpus size. The oracle stays the plain partitioned
    ntile — the contract the distributed rank reproduces bit-for-bit."""
    from ..functions.ranking import dist_ntile

    cust = load_table(spark, sf_dir, "customer")
    binned = dist_ntile(
        cust.select("c_mktsegment", "c_acctbal", "c_custkey"),
        4,
        F.expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)"),
        [F.col("c_acctbal"), F.col("c_custkey")],
        group_cols=["c_mktsegment"],
        out_col="quartile",
    )
    return (
        binned.groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_balance"),
            F.round(F.min("c_acctbal"), 4).alias("min_balance"),
            F.round(F.max("c_acctbal"), 4).alias("max_balance"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


def priority_region_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS: order counts/revenue by region, by priority, and
    grand total. The two keyed granularities run as ONE Expand + hash agg
    (vs separate queries), the same shape as the rollup/cube operators
    but with an explicit, sparse set list; the grand total is a global
    aggregate, which keeps its row over empty input
    (``grouping_sets_with_total``)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dim = (
        customer.select("c_custkey", "c_nationkey")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        grouping_sets_with_total(
            orders.join(dim, orders.o_custkey == dim.c_custkey),
            [["r_name"], ["o_orderpriority"]],
            ["r_name", "o_orderpriority"],
            [
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            ],
        )
        .orderBy(
            F.col("r_name").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue shipped by suppliers to customers of the
    SAME nation, per Asian nation, 1996. The 6-table star join — the
    canonical join-reordering workload.

    Plan: nation/region hint-broadcast; the SF-linear supplier and
    customer-key slices join size-driven (auto-broadcast while small);
    the only planned shuffles are lineitem⋈orders on orderkey and the
    final tiny group-by. The c_nationkey = s_nationkey "local" predicate
    is applied after the equi-joins as a filter, which Catalyst pushes
    into the join. Date + region filters prune at the scan/broadcast."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    asian_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    return (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(
            supplier.select("s_suppkey", "s_nationkey"),
            li.l_suppkey == supplier.s_suppkey,
        )
        .join(
            customer.select("c_custkey", "c_nationkey"),
            orders.o_custkey == customer.c_custkey,
        )
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(asian_nations),
            F.col("s_nationkey") == asian_nations.n_nationkey,
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Brand revenue: fact⋈part join with filter pushdown on the dimension.
# ---------------------------------------------------------------------------


def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part.select("p_partkey", "p_brand"),
                li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Order-priority count with date-range filter (predicate pushdown to scan).
# ---------------------------------------------------------------------------


def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Windows over events: per-user ranking (row_number) and lag deltas.
# Reference has no window functions (SURVEY.md §2.5) — beyond-reference.
# ---------------------------------------------------------------------------


def top_event_per_user(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("user_id", "event_id", "event_type", F.round("value", 4).alias("value"), "rank")
        .orderBy("user_id", "rank")
    )


def event_value_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() per user ordered by time — the streaming-shaped window demo."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_value", F.lag("value").over(w))
        .withColumn(
            "delta", F.round(F.col("value") - F.col("prev_value"), 4)
        )
        .filter(F.col("prev_value").isNotNull())
        .select("user_id", "event_id", "delta")
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Time-bucketed aggregation over events (batch form of a tumbling window).
# ---------------------------------------------------------------------------


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


def ship_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag SLA table: exact p50/p90/max days from order
    date to each line's ship date, per order priority — the supply-chain
    question the o_orderpriority column exists to answer.

    One orderkey equi-join (fact⋈fact, the one legitimate big shuffle),
    integer day lags, exact percentile ≡ quantile_cont per 5-row group.
    At scale the exact percentile's per-group sort swaps for
    percentile_approx — same contract as value_percentiles.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_orderpriority", lag_days.alias("lag_days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.expr("percentile(lag_days, 0.5)"), 4).alias(
                "p50_days"
            ),
            F.round(F.expr("percentile(lag_days, 0.9)"), 4).alias(
                "p90_days"
            ),
            F.max("lag_days").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


def region_revenue_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebased revenue index: each region's monthly revenue expressed as
    index-100 against its own first month — the cross-series-comparable
    form of a growth chart (absolute revenues differ 10×; indexes
    overlay). first_value over the month-ordered window per region; the
    index divides two 4dp-rounded revenues so both engines divide the
    same numbers."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dim = (
        customer.select("c_custkey", "c_nationkey")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "r_name")
    )
    monthly = (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    )
    w = Window.partitionBy("region").orderBy("month")
    return (
        monthly.select(
            "region",
            "month",
            "revenue",
            F.round(
                F.col("revenue")
                / F.first("revenue").over(w)
                * 100,
                4,
            ).alias("index_100"),
        )
        .orderBy("region", "month")
    )


def salted_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation supplier revenue THROUGH the salted-join path
    (`functions/skew.py::salted_join`) — the explicit hot-key spreading
    fallback for joins AQE can't split — hash-checked against the plain
    join the oracle runs. Salting is a physical rewrite: same relation
    out, hot keys spread over n_salts reducers, the dimension side
    replicated n_salts× through the shuffle. Registering it as a
    driver-checked query pins the rewrite's correctness (identical
    result set), not just its plan shape (tests/test_scale.py does
    that)."""
    from ..functions.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    joined = salted_join(li, supp, on="suppkey")
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("rev"), 4).alias("revenue"),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", "n_items", "revenue")
        .orderBy("n_name")
    )


def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value (TWAP): each event's value is
    held until the next event, weighted by that holding interval in µs —
    the canonical irregular-time-series average where a plain ``avg``
    over-counts bursts.

    One lead window per user ((ts, event_id) total order) computes the
    integer µs gap; the weighted sum and span aggregate in the same
    user-partitioned pass (the window's shuffle serves the groupBy — one
    Exchange). The final event has no successor and carries zero weight
    (documented open-interval semantics). Gap arithmetic is exact BIGINT
    on both engines; only the final Σ(v·gap)/Σgap division is float,
    rounded 4dp.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.select(
        "user_id",
        "value",
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("gap_us"),
    )
    return (
        gapped.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("gap_us").alias("span_us"),
            # guard: a user whose events all share one timestamp has span 0
            # (ANSI div-by-zero); single-event users get NULL naturally
            F.when(
                F.sum("gap_us") > 0,
                F.round(
                    F.sum(F.col("value") * F.col("gap_us"))
                    / F.sum("gap_us"),
                    4,
                ),
            ).alias("twap"),
            F.round(F.avg("value"), 4).alias("naive_avg"),
        )
        .orderBy("user_id")
    )


def ohlc_hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars: per (event_type, hour), the open (first),
    high, low, close (last) event values plus count and summed volume —
    the time-bar downsampling every market/telemetry store ships.

    Open/close are argmin/argmax-by-(ts, event_id) via Spark's
    min/max(struct(...)) aggregate — partial-aggregating (map-side
    combine carries ONE candidate struct per group per partition), no
    window, no second pass, so the whole operator is a single hash
    aggregate over the scan at any scale. The unique event_id tiebreak
    makes first/last total-ordered, so both engines pick the same row
    even with duplicate timestamps; the DuckDB oracle expresses the same
    argmin with row_number (its arg_min rejects composite keys).
    """
    ev = load_table(spark, sf_dir, "events")
    first = F.min(F.struct("ts", "event_id", "value"))
    last = F.max(F.struct("ts", "event_id", "value"))
    return (
        ev.groupBy(
            F.col("event_type"),
            F.date_trunc("hour", F.col("ts")).alias("bar_hour"),
        )
        .agg(
            first.getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            last.getField("value").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("volume"),
        )
        .orderBy("event_type", "bar_hour")
    )


def shipping_priority(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """TPC-H Q3 shape: 3-way fact join (customer ⋈ orders ⋈ lineitem) with
    selective filters and revenue top-k.

    Plan shape at scale: customer (filtered to one segment) joins
    size-driven (auto-broadcast while it fits — SF-linear, so never
    hint-forced);
    orders⋈lineitem is the real shuffle — both sides hash on o_orderkey/
    l_orderkey, AQE picks sort-merge; the top-k is TakeOrdered (no global
    sort of the aggregate output)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1996-07-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1996-07-01"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(k)
    )


def above_nation_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries through the engine's SQL front door:
    customers whose balance beats their own nation's average, counted per
    nation. Catalyst decorrelates both subqueries into one aggregate
    joined back on the correlation key — ``.explain`` shows a plain
    Aggregate→Join, no per-row re-execution (the fate of naive correlated
    evaluation at scale).

    The comparison is written sum-vs-scaled-value in DECIMAL so it's
    exact in both engines: an avg-of-doubles threshold would make
    borderline rows depend on float summation order."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    return spark.sql(
        """
WITH nat_counts AS (
  SELECT c_nationkey, count(*) AS n_customers
  FROM customer_v GROUP BY c_nationkey
)
SELECT n.n_name AS nation,
  count(*) AS n_above,
  nc.n_customers AS n_customers
FROM customer_v c
JOIN nation_v n ON c.c_nationkey = n.n_nationkey
JOIN nat_counts nc ON nc.c_nationkey = c.c_nationkey
WHERE CAST(c.c_acctbal AS DECIMAL(18,2))
      * (SELECT count(*) FROM customer_v c2
          WHERE c2.c_nationkey = c.c_nationkey)
      > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer_v c2
          WHERE c2.c_nationkey = c.c_nationkey)
GROUP BY n.n_name, nc.n_customers
ORDER BY nation
"""
    )


def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over the events ``props`` column: parse `$.k` out of
    the JSON payload and profile it per event type. ``get_json_object``
    stays JVM-side (Jackson) — at scale prefer ``from_json`` with an
    explicit schema once the payload shape is known, which vectorizes and
    prunes into the scan for parquet-backed JSON."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_missing"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def daily_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one row per day, one count column per event type. The value
    list is passed explicitly — without it Spark runs an extra distinct
    job to discover pivot columns, and unbounded pivot width is a schema
    explosion at scale."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
        .orderBy("day")
    )


def event_trailing_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame: per event, the user's average value over
    the trailing hour (RANGE frame on event time, not ROWS — correct under
    irregular arrival gaps). Spark ranges over unix microseconds; the
    oracle over INTERVAL — identical frames since both are closed
    [t-1h, t]."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round(F.avg("value").over(w), 4).alias("trailing_avg_1h"),
        )
        .orderBy("user_id", "event_id")
    )


RESAMPLE_MINUTES = 360  # 6-hour grid keeps user×slot cardinality honest


def user_value_resampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill (the hypertable/rollup shape): per
    user, last value in each 6-hour slot, with empty slots forward-filled
    from the previous observation.

    Spark plan: bucket to slots (map-side), per-slot last value as an
    argmax-struct AGGREGATE — ``max(struct(ts, event_id, value))`` picks
    the same row the (ts, event_id) desc row_number window did, but as a
    hash agg with map-side partial aggregation instead of a full
    shuffle+sort window. One explicit repartition on user_id then serves
    everything downstream via subset clustering: the per-slot agg, the
    per-user min/max grid agg, the grid⋈per_slot left join (both sides
    co-partitioned on user_id) and the forward-fill window. Measured at
    sf0.1: ~15% faster warm, ~4× faster cold — the old plan duplicated
    the whole window subtree under both per_slot consumers and paid its
    codegen twice. The dense grid still comes from a per-user
    ``sequence()`` explode over [min_slot, max_slot] — no driver loop,
    no users × global-calendar cross join.
    """
    ev = load_table(spark, sf_dir, "events")
    step = RESAMPLE_MINUTES * 60
    slot = (F.floor(F.unix_seconds("ts") / step) * step).cast("long")
    per_slot = (
        ev.repartition("user_id")
        .withColumn("slot", slot)
        .groupBy("user_id", "slot")
        .agg(F.max(F.struct("ts", "event_id", "value")).alias("s"))
        .select("user_id", "slot", F.col("s.value").alias("slot_value"))
    )
    grid = (
        per_slot.groupBy("user_id")
        .agg(F.min("slot").alias("lo"), F.max("slot").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(step))
            ).alias("slot"),
        )
    )
    ffill = Window.partitionBy("user_id").orderBy("slot").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        grid.join(per_slot, ["user_id", "slot"], "left")
        .select(
            "user_id",
            F.timestamp_seconds(F.col("slot")).alias("slot_start"),
            F.round(
                F.last("slot_value", ignorenulls=True).over(ffill), 4
            ).alias("value_ffill"),
            F.col("slot_value").isNotNull().cast("int").alias("observed"),
        )
        .orderBy("user_id", "slot_start")
    )


RFM_ANCHOR = "2002-01-01"  # fixed recency anchor just past the data's end
BASKET_MAX_PARTS = 50  # drop pathological baskets before the pair explosion
BASKET_TOP_K = 25


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quintile scores for Recency (days since last
    order, anchored at a fixed date), Frequency (order count) and
    Monetary (total spend) per customer, combined into a 3-digit code.

    The multi-metric scoring shape the reference's churn app gestures at
    with its Low/Medium/High buckets (SURVEY.md §2.8 E1) but never
    computes from behavior. One agg shuffle on o_custkey produces the
    per-customer metrics; three quintile scores rank them. Every score
    ORDER BY ends with c_custkey so tie handling is a total order — both
    engines split equal metric values identically (CLAUDE.md tie rule).

    Round 10 (VERDICT r9 item 3): the three UNPARTITIONED ntile windows
    (single-task sorts over one row per customer) are replaced by three
    passes of the SHARED distributed two-pass rank
    (``functions/ranking.py::dist_ntile``). Each metric's bucket
    expression is order-preserving along ITS window direction (negated
    for the descending metrics) and value-bounded by customer BEHAVIOR,
    not corpus size — recency by the date span (≤~26 buckets at 100-day
    width), frequency by orders-per-customer (≤~50 raw values), monetary
    by per-customer spend (≤~700 at $10k width) — so every offset
    relation stays broadcast-tiny at any customer count. Each rank
    level lazily persists its repartitioned base (``persist_base``) so
    the chained levels don't re-plan the orders aggregation 2^3 ways
    through the branching offset/rank joins. Oracle: the plain
    three-window SQL — the contract the distributed ranks reproduce
    bit-for-bit."""
    from ..functions.ranking import dist_ntile

    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(
                F.lit(RFM_ANCHOR).cast("date"), F.max(F.to_date("o_orderdate"))
            ).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice"), 4).alias("monetary"),
        )
    )
    scored = dist_ntile(
        per_cust,
        5,
        F.expr("CAST(recency_days div 100 AS BIGINT)"),
        [F.col("recency_days"), F.col("c_custkey")],
        out_col="r_score",
        persist_base=True,
    )
    scored = dist_ntile(
        scored,
        5,
        (-F.col("frequency")).cast("bigint"),
        [F.desc("frequency"), F.col("c_custkey")],
        out_col="f_score",
        persist_base=True,
    )
    scored = dist_ntile(
        scored,
        5,
        F.expr("CAST(-floor(monetary / 10000.0) AS BIGINT)"),
        [F.desc("monetary"), F.col("c_custkey")],
        out_col="m_score",
        persist_base=True,
    )
    return (
        scored.select(
            "c_custkey",
            "recency_days",
            "frequency",
            "monetary",
            "r_score",
            "f_score",
            "m_score",
        )
        .withColumn(
            "rfm_code",
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"),
        )
        .orderBy("c_custkey")
    )


def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the top co-purchased part pairs by
    number of shared orders (frequent-itemset mining at k=2).

    Plan: TWO shuffles total, no self-join. collect_set(partkey) per
    order (partial aggregation dedups map-side), then the K·(K-1)/2
    pairs are generated MAP-SIDE from each sorted basket array with
    nested ``transform`` + ``flatten`` (whole-stage codegen — sorting
    the array makes part1 < part2 by construction), and the pair
    counts are one final hash agg feeding TakeOrderedAndProject.
    Measured ≈2× faster than the distinct + self-join-on-orderkey
    form at sf0.1 (3.5s → 1.8s warm), which paid five exchanges for
    the same result.

    Skew is handled BY CONSTRUCTION, not by salting: a basket with K
    distinct parts emits K·(K-1)/2 pairs, so one pathological
    million-line order would dominate the whole job. Baskets with more
    than ``BASKET_MAX_PARTS`` distinct parts are dropped before the
    pair explosion (standard practice in frequent-itemset miners —
    such baskets carry no signal per pair anyway), which caps per-key
    fan-out at ~50²/2 rows regardless of input skew. The cap is
    mirrored in the oracle.
    """
    return basket_pairs_from(
        load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_partkey").alias("pkey"),
        )
    ).limit(BASKET_TOP_K)


def capped_baskets(op: DataFrame) -> DataFrame:
    """(okey, sorted distinct parts) with the pathological-basket cap —
    THE basket relation; every basket consumer (pair mining, item
    supports, association rules, co-purchase graph) must build from
    this one helper so the cap/sort scheme can never desync."""
    return (
        op.groupBy("okey")
        .agg(F.array_sort(F.collect_set("pkey")).alias("parts"))
        .filter(F.size("parts") <= BASKET_MAX_PARTS)
    )


def basket_pairs_from(op: DataFrame, ordered: bool = True) -> DataFrame:
    """Pair counts over any (okey, pkey) frame, top-first but UNLIMITED —
    split out so property tests can compare the full pair relation
    against an itertools reference (basket_pairs applies the top-K) and
    so the co-purchase graph (graph.py::copurchase_triangles) builds its
    edge set from the SAME explosion. ``ordered=False`` skips the
    presentation sort for consumers that immediately re-shuffle."""
    baskets = capped_baskets(op)
    pair = F.explode(
        F.expr(
            "flatten(transform(parts, (x, i) -> "
            "transform(slice(parts, i + 2, size(parts) - i - 1), "
            "y -> struct(x AS part1, y AS part2))))"
        )
    ).alias("pair")
    counts = (
        baskets.select(pair)
        .select("pair.part1", "pair.part2")
        .groupBy("part1", "part2")
        .agg(F.count("*").alias("n_orders"))
    )
    if ordered:
        counts = counts.orderBy(F.desc("n_orders"), "part1", "part2")
    return counts


SLIDE_WINDOW_H = 6  # sliding-window length (hours)
SLIDE_STEP_H = 1  # slide step (hours)


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation in batch: event counts + value sum per
    6-hour window sliding every hour — the batch twin of Structured
    Streaming's ``F.window(ts, "6 hours", "1 hour")`` (streaming/windows.py),
    oracle-checkable because it's pure relational algebra.

    Spark's own ``window()`` slide is implemented exactly this way
    internally: each event explodes into the windows-per-slide = 6
    windows that contain it (map-side sequence/explode — no self-join,
    no calendar cross join), then one hash agg on (window_start, type).
    Shuffle volume is 6× events — the price of slide overlap — which at
    100 TB argues for the largest slide the report tolerates; the
    tumbling special case (slide = width) is events_hourly."""
    ev = load_table(spark, sf_dir, "events")
    step = SLIDE_STEP_H * 3600
    width = SLIDE_WINDOW_H * 3600
    last_start = (F.floor(F.unix_seconds("ts") / step) * step).cast("long")
    starts = F.sequence(
        last_start - (width - step), last_start, F.lit(step)
    )
    return (
        ev.select(
            F.explode(starts).alias("start_s"), "event_type", "value"
        )
        .groupBy(
            F.timestamp_seconds("start_s").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


def acctbal_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing windows: percent_rank and cume_dist of each
    customer's account balance within their nation — the two rank-family
    functions the inventory didn't cover yet (rank/row_number/ntile do).

    Both are per-nation windows: one shuffle on nationkey, in-partition
    sort, no global ordering anywhere. SCALE CAVEAT: nation cardinality
    is 25, so parallelism caps at 25 reducers each sorting 1/25 of the
    table — at billions of customers the swap is the two-level ranked
    form (rank within (nation, balance-bucket) + broadcast per-bucket
    offsets, the peak_concurrent_sessions prefix-sum lever), which
    yields identical percent_rank/cume_dist values. Ties:
    percent_rank/cume_dist are
    tie-STABLE by definition (equal values share a value), so unlike
    ntile no tiebreak column is needed for engine parity; c_acctbal
    is rounded input data (2dp), not a float aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume_dist"),
    ).orderBy("c_custkey")


def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's order revenue
    plus its rank within the region — the percent-of-total window shape
    (report totals without a second scan or a join back to the total).

    Plan: bounded dims hint-broadcast (the customer slice joins
    size-driven) onto the orders fact, one hash agg to
    (region, nation) grain, then both windows (share denominator and
    rank) reuse a single hash shuffle on r_name — the whole report is
    fact-scan + 1 agg exchange + 1 tiny window exchange. Revenue is
    rounded 4dp BEFORE the share/rank so both engines window over
    identical values (float-sum ties would otherwise be engine-luck)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        # customer is FACT-sized (scales with SF) — no broadcast hint;
        # the orders⋈customer join hash-shuffles on the key and AQE may
        # still convert at small SF. Only the true dims broadcast.
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    )
    w = Window.partitionBy("r_name")
    w_rank = Window.partitionBy("r_name").orderBy(F.desc("revenue"), "n_name")
    return rev.select(
        "r_name",
        "n_name",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 4).alias(
            "region_share"
        ),
        F.rank().over(w_rank).alias("rank_in_region"),
    ).orderBy("r_name", "rank_in_region")


ORACLE: dict[str, str] = {
    "ship_lag_percentiles": """
WITH lags AS (
  SELECT o_orderpriority,
    date_diff('day', o_orderdate, l_shipdate) AS lag_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority, count(*) AS n_lines,
  round(quantile_cont(lag_days, 0.5), 4) AS p50_days,
  round(quantile_cont(lag_days, 0.9), 4) AS p90_days,
  CAST(max(lag_days) AS INT) AS max_days
FROM lags
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    "region_revenue_index": """
WITH monthly AS (
  SELECT r_name AS region,
    CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
    round(sum(o_totalprice), 4) AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT region, month, revenue,
  round(revenue / first_value(revenue)
    OVER (PARTITION BY region ORDER BY month) * 100, 4) AS index_100
FROM monthly
ORDER BY region, month
""",
    "salted_supplier_revenue": """
SELECT n_name,
  count(*) AS n_items,
  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""",
    "twap_user_value": """
WITH gapped AS (
  SELECT user_id, value,
    epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
      - epoch_us(ts) AS gap_us
  FROM events
)
SELECT user_id, count(*) AS n_events,
  CAST(sum(gap_us) AS BIGINT) AS span_us,
  CASE WHEN sum(gap_us) > 0
       THEN round(sum(value * gap_us) / sum(gap_us), 4) END AS twap,
  round(avg(value), 4) AS naive_avg
FROM gapped
GROUP BY user_id
ORDER BY user_id
""",
    "ohlc_hourly_bars": """
WITH ranked AS (
  SELECT event_type, date_trunc('hour', ts) AS bar_hour, value,
    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts, event_id) AS rn_a,
    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, bar_hour,
  max(CASE WHEN rn_a = 1 THEN value END) AS open,
  max(value) AS high,
  min(value) AS low,
  max(CASE WHEN rn_d = 1 THEN value END) AS close,
  count(*) AS n_events,
  round(sum(value), 4) AS volume
FROM ranked
GROUP BY event_type, bar_hour
ORDER BY event_type, bar_hour
""",
    "events_sliding_window": f"""
WITH base AS (
  SELECT CAST(floor(epoch(ts) / {SLIDE_STEP_H * 3600}) * {SLIDE_STEP_H * 3600}
      AS BIGINT) AS last_start,
    event_type, value
  FROM events
),
exploded AS (
  SELECT unnest(generate_series(
      last_start - {(SLIDE_WINDOW_H - SLIDE_STEP_H) * 3600}, last_start,
      {SLIDE_STEP_H * 3600})) AS s,
    event_type, value
  FROM base
)
SELECT TIMESTAMP '1970-01-01' + s * INTERVAL '1 second' AS window_start,
  event_type,
  count(*) AS n_events,
  round(sum(value), 4) AS sum_value
FROM exploded
GROUP BY 1, 2
ORDER BY window_start, event_type
""",
    "acctbal_percentile_ranks": """
SELECT c_custkey, c_nationkey, c_acctbal,
  round(percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal), 4)
    AS pct_rank,
  round(cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal), 4)
    AS cume_dist
FROM customer
ORDER BY c_custkey
""",
    "nation_revenue_share": """
WITH rev AS (
  SELECT r_name, n_name, round(sum(o_totalprice), 4) AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name, revenue,
  round(revenue / sum(revenue) OVER (PARTITION BY r_name), 4)
    AS region_share,
  CAST(rank() OVER (PARTITION BY r_name ORDER BY revenue DESC, n_name)
    AS INT) AS rank_in_region
FROM rev
ORDER BY r_name, rank_in_region
""",
    "rfm_segments": f"""
WITH per_cust AS (
  SELECT o_custkey AS c_custkey,
    CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
      DATE '{RFM_ANCHOR}') AS INT) AS recency_days,
    count(*) AS frequency,
    round(CAST(sum(o_totalprice) AS DOUBLE), 4) AS monetary
  FROM orders GROUP BY 1
)
SELECT c_custkey, recency_days, frequency, monetary,
  CAST(ntile(5) OVER (ORDER BY recency_days, c_custkey) AS INT) AS r_score,
  CAST(ntile(5) OVER (ORDER BY frequency DESC, c_custkey) AS INT) AS f_score,
  CAST(ntile(5) OVER (ORDER BY monetary DESC, c_custkey) AS INT) AS m_score,
  CAST(ntile(5) OVER (ORDER BY recency_days, c_custkey) * 100
    + ntile(5) OVER (ORDER BY frequency DESC, c_custkey) * 10
    + ntile(5) OVER (ORDER BY monetary DESC, c_custkey) AS INT) AS rfm_code
FROM per_cust
ORDER BY c_custkey
""",
    "basket_pairs": f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem
),
small AS (
  SELECT okey FROM op GROUP BY okey HAVING count(*) <= {BASKET_MAX_PARTS}
)
SELECT a.pkey AS part1, b.pkey AS part2, count(*) AS n_orders
FROM op a
JOIN small USING (okey)
JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part1, part2
LIMIT {BASKET_TOP_K}
""",
    "user_value_resampled": f"""
WITH per_slot AS (
  SELECT user_id, slot, value AS slot_value
  FROM (
    SELECT user_id, value,
      CAST(floor(epoch(ts) / {RESAMPLE_MINUTES * 60}) AS BIGINT) * {RESAMPLE_MINUTES * 60} AS slot,
      row_number() OVER (
        PARTITION BY user_id,
          CAST(floor(epoch(ts) / {RESAMPLE_MINUTES * 60}) AS BIGINT)
        ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
),
grid AS (
  SELECT user_id, unnest(generate_series(min(slot), max(slot), {RESAMPLE_MINUTES * 60})) AS slot
  FROM per_slot
  GROUP BY user_id
),
j AS (
  SELECT g.user_id, g.slot, p.slot_value
  FROM grid g LEFT JOIN per_slot p ON g.user_id = p.user_id AND g.slot = p.slot
)
SELECT user_id,
  TIMESTAMP '1970-01-01 00:00:00' + slot * INTERVAL '1 second' AS slot_start,
  round(last_value(slot_value IGNORE NULLS) OVER
    (PARTITION BY user_id ORDER BY slot ROWS UNBOUNDED PRECEDING), 4) AS value_ffill,
  CAST(slot_value IS NOT NULL AS INT) AS observed
FROM j
ORDER BY user_id, slot_start
""",
    "daily_event_pivot": f"""
SELECT CAST(ts AS DATE) AS day,
  {", ".join(f"count(*) FILTER (event_type = '{t}') AS {t}" for t in EVENT_TYPES)}
FROM events
GROUP BY 1
ORDER BY day
""",
    "event_trailing_avg": """
SELECT user_id, event_id,
  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4)
    AS trailing_avg_1h
FROM events
ORDER BY user_id, event_id
""",
    "shipping_priority": """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-07-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    "above_nation_avg_customers": """
WITH nat_counts AS (
  SELECT c_nationkey, count(*) AS n_customers
  FROM customer GROUP BY c_nationkey
)
SELECT n.n_name AS nation,
  count(*) AS n_above,
  nc.n_customers AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN nat_counts nc ON nc.c_nationkey = c.c_nationkey
WHERE CAST(c.c_acctbal AS DECIMAL(18,2))
      * (SELECT count(*) FROM customer c2
          WHERE c2.c_nationkey = c.c_nationkey)
      > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer c2
          WHERE c2.c_nationkey = c.c_nationkey)
GROUP BY n.n_name, nc.n_customers
ORDER BY nation
""",
    "props_json_stats": """
SELECT event_type,
  count(*) AS n_events,
  CAST(sum(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
  round(avg(CAST(json_extract(props, '$.k') AS INT)), 4) AS avg_k,
  min(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
  max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    "pricing_summary": f"""
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 4) AS sum_qty,
  round(sum(l_extendedprice), 4) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
  round(avg(l_quantity), 4) AS avg_qty,
  round(avg(l_extendedprice), 4) AS avg_price,
  round(avg(l_discount), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{PRICING_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    "top_customers_by_revenue": """
SELECT
  c_custkey,
  c_name,
  round(sum(o_totalprice), 4) AS revenue,
  count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 10
""",
    "segment_spend_quartiles": """
WITH q AS (
  SELECT c_mktsegment, c_acctbal,
    ntile(4) OVER (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
)
SELECT c_mktsegment, quartile,
  count(*) AS n_customers,
  round(avg(c_acctbal), 4) AS avg_balance,
  round(min(c_acctbal), 4) AS min_balance,
  round(max(c_acctbal), 4) AS max_balance
FROM q
GROUP BY c_mktsegment, quartile
ORDER BY c_mktsegment, quartile
""",
    "priority_region_sets": """
SELECT r_name, o_orderpriority,
  count(*) AS n_orders,
  round(sum(o_totalprice), 4) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
ORDER BY r_name NULLS FIRST, o_orderpriority NULLS FIRST
""",
    "local_supplier_volume": """
SELECT n_name,
  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
  count(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY n_name
""",
    "revenue_by_region": """
SELECT
  r_name,
  round(sum(o_totalprice), 4) AS revenue,
  count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
""",
    "mv_delta_maintenance": f"""
WITH fact AS (
  SELECT r_name, o_totalprice, o_orderdate
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
cut AS (
  SELECT max(o_orderdate) - INTERVAL {MV_DELTA_DAYS} DAY AS cutoff FROM fact
),
parts AS (
  SELECT r_name,
    CAST(sum(CASE WHEN o_orderdate < cutoff THEN 1 ELSE 0 END) AS BIGINT)
      AS base_orders,
    CAST(sum(CASE WHEN o_orderdate >= cutoff THEN 1 ELSE 0 END) AS BIGINT)
      AS delta_orders,
    coalesce(round(sum(CASE WHEN o_orderdate < cutoff
                            THEN o_totalprice END), 4),
             CAST(0.0 AS DOUBLE)) AS base_revenue,
    coalesce(round(sum(CASE WHEN o_orderdate >= cutoff
                            THEN o_totalprice END), 4),
             CAST(0.0 AS DOUBLE)) AS delta_revenue,
    round(sum(o_totalprice), 4) AS recomputed_revenue
  FROM fact CROSS JOIN cut
  GROUP BY r_name
)
SELECT r_name, base_orders, delta_orders, base_revenue, delta_revenue,
  round(base_revenue + delta_revenue, 4) AS maintained_revenue,
  recomputed_revenue,
  round(round(base_revenue + delta_revenue, 4) - recomputed_revenue, 4) + 0.0
    AS drift
FROM parts
ORDER BY r_name
""",
    "brand_revenue": """
SELECT
  p_brand,
  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
  round(sum(l_quantity), 4) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
""",
    "order_priority_count": """
SELECT
  o_orderpriority,
  count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    "top_event_per_user": """
SELECT user_id, event_id, event_type, round(value, 4) AS value, rank
FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
  FROM events
) t
WHERE rank <= 3
ORDER BY user_id, rank
""",
    "event_value_deltas": """
SELECT user_id, event_id, round(value - prev_value, 4) AS delta
FROM (
  SELECT user_id, event_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
  FROM events
) t
WHERE prev_value IS NOT NULL
ORDER BY user_id, event_id
""",
    "events_hourly": """
SELECT
  date_trunc('hour', ts) AS hour,
  event_type,
  count(*) AS n_events,
  round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
""",
}

QUERIES = {
    "rfm_segments": rfm_segments,
    "basket_pairs": basket_pairs,
    "nation_revenue_share": nation_revenue_share,
    "events_sliding_window": events_sliding_window,
    "acctbal_percentile_ranks": acctbal_percentile_ranks,
    "user_value_resampled": user_value_resampled,
    "daily_event_pivot": daily_event_pivot,
    "event_trailing_avg": event_trailing_avg,
    "shipping_priority": shipping_priority,
    "props_json_stats": props_json_stats,
    "above_nation_avg_customers": above_nation_avg_customers,
    "pricing_summary": pricing_summary,
    "top_customers_by_revenue": top_customers_by_revenue,
    "revenue_by_region": revenue_by_region,
    "mv_delta_maintenance": mv_delta_maintenance,
    "local_supplier_volume": local_supplier_volume,
    "priority_region_sets": priority_region_sets,
    "segment_spend_quartiles": segment_spend_quartiles,
    "brand_revenue": brand_revenue,
    "order_priority_count": order_priority_count,
    "top_event_per_user": top_event_per_user,
    "event_value_deltas": event_value_deltas,
    "events_hourly": events_hourly,
    "ohlc_hourly_bars": ohlc_hourly_bars,
    "twap_user_value": twap_user_value,
    "ship_lag_percentiles": ship_lag_percentiles,
    "region_revenue_index": region_revenue_index,
    "salted_supplier_revenue": salted_supplier_revenue,
}


# ---------------------------------------------------------------------------
# Pareto frontier (2-D skyline) — undominated customers
# ---------------------------------------------------------------------------


def pareto_frontier_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: customers undominated on (total revenue, order
    count) — q dominates p iff q ≥ p on BOTH dims and > on at least one
    (Börzsönyi et al. 2001's SKYLINE OF operator, here as pure
    relational algebra).

    The naive form is an O(n²) dominance anti-join. The 2-D skyline
    collapses to ONE sorted window pass: group to distinct revenue
    levels, take each level's max count, and a point survives iff its
    count equals its level max AND strictly exceeds the running max
    count over all STRICTLY higher revenue levels (rows-frame lag over
    the level relation — |distinct revenues| rows, not |customers|).
    At 100 TB the same plan holds: the per-level pre-agg is
    partial-aggregating, and the single ordered window runs on the
    level relation (bounded by value cardinality); the d>2 general case
    is the documented swap to a grid-partitioned dominance join.
    Revenue rounds 2dp in-query on both engines; (rev, cnt) ties keep
    BOTH points (neither strictly dominates), pinned by the equality
    branch.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    lvl = per_cust.groupBy("revenue").agg(
        F.max("n_orders").alias("lvl_max")
    )
    w = (
        Window.orderBy(F.desc("revenue"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lvl = lvl.select(
        "revenue",
        "lvl_max",
        F.coalesce(F.max("lvl_max").over(w), F.lit(-1)).alias("run_prev"),
    )
    sky = (
        per_cust.join(lvl, "revenue")
        .filter(
            (F.col("n_orders") == F.col("lvl_max"))
            & (F.col("n_orders") > F.col("run_prev"))
        )
        .select(
            F.col("o_custkey").alias("c_custkey"), "revenue", "n_orders"
        )
    )
    return sky.orderBy(F.desc("revenue"), "c_custkey")


ORACLE["pareto_frontier_customers"] = """
WITH per_cust AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue,
    CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
),
lvl AS (
  SELECT revenue, max(n_orders) AS lvl_max FROM per_cust GROUP BY revenue
),
run AS (
  SELECT revenue, lvl_max,
    coalesce(max(lvl_max) OVER (ORDER BY revenue DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS run_prev
  FROM lvl
)
SELECT p.o_custkey AS c_custkey, p.revenue, p.n_orders
FROM per_cust p
JOIN run r ON r.revenue = p.revenue
WHERE p.n_orders = r.lvl_max AND p.n_orders > r.run_prev
ORDER BY p.revenue DESC, c_custkey
"""
QUERIES["pareto_frontier_customers"] = pareto_frontier_customers


# ---------------------------------------------------------------------------
# item-item cosine similarity — co-occurrence recommender neighbors
# ---------------------------------------------------------------------------

ITEM_SIM_TOP_ITEMS = 20  # report neighbors for the top-N items by support
ITEM_SIM_K = 5  # neighbors kept per item


def item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering neighbors: for the top
    ``ITEM_SIM_TOP_ITEMS`` parts by basket support, the ``ITEM_SIM_K``
    most-similar parts by co-occurrence cosine
    ``n_co / sqrt(n_i * n_j)`` over order baskets — the classic
    Amazon-style item-based recommender build (Linden et al. 2003),
    the one recsys shape the shelf lacked.

    Plan: the basket explosion is shared with ``basket_pairs`` (one
    groupBy(okey) + map-side sorted-array pair generation, skew capped
    at ``BASKET_MAX_PARTS`` by construction); item supports are ONE
    extra explode+agg over the same basket relation. The top-N item
    selection is TakeOrderedAndProject (no global sort), broadcast to
    gate the symmetrized pair relation, so the expensive side never
    carries more than items x K rows into the final window. At 100 TB
    the pair relation is the only data-sized shuffle and its volume is
    dup-density-bounded exactly as basket_pairs documents.

    Cross-engine: supports and co-counts are exact BIGINTs; the cosine
    is one division + sqrt over integer-derived doubles (correctly-
    rounded IEEE ops — bit-identical on both engines), rounded 4dp
    in-query; neighbor ranking orders by the UNROUNDED cosine with a
    total (nbr) tie-break, so both engines pick identical top-k sets.
    ``sqrt(n_i * n_j)`` is computed in DOUBLE (count products overflow
    BIGINT at catalog scale — the Gini rule).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
    )
    # r13 optimization (two-consumer rule): baskets feeds the pair agg
    # AND the item-support agg; item_n feeds the top-N gate AND the n_j
    # join — unpersisted, the basket aggregation ran 3x (4 lineitem
    # scans in the before-plan). Two lazy persists (transactions +
    # part-dimension supports, the standard recsys-build caches) bring
    # it to one.
    baskets = (
        li.groupBy("okey")
        .agg(F.array_sort(F.collect_set("pkey")).alias("parts"))
        .filter(F.size("parts") <= BASKET_MAX_PARTS)
        .persist()
    )
    pair = F.explode(
        F.expr(
            "flatten(transform(parts, (x, i) -> "
            "transform(slice(parts, i + 2, size(parts) - i - 1), "
            "y -> struct(x AS part1, y AS part2))))"
        )
    ).alias("pair")
    pairs = (
        baskets.select(pair)
        .select("pair.part1", "pair.part2")
        .groupBy("part1", "part2")
        .agg(F.count(F.lit(1)).alias("n_co"))
    )
    item_n = (
        baskets.select(F.explode("parts").alias("pkey"))
        .groupBy("pkey")
        .agg(F.count(F.lit(1)).alias("n_item"))
        .persist()
    )
    top_items = item_n.orderBy(F.desc("n_item"), "pkey").limit(ITEM_SIM_TOP_ITEMS)
    sym = pairs.select(
        F.col("part1").alias("item"), F.col("part2").alias("nbr"), "n_co"
    ).unionAll(
        pairs.select(
            F.col("part2").alias("item"), F.col("part1").alias("nbr"), "n_co"
        )
    )
    j = (
        sym.join(
            F.broadcast(
                top_items.select(
                    F.col("pkey").alias("item"), F.col("n_item").alias("n_i")
                )
            ),
            "item",
        )
        .join(
            item_n.select(F.col("pkey").alias("nbr"), F.col("n_item").alias("n_j")),
            "nbr",
        )
    )
    cos = F.col("n_co").cast("double") / F.sqrt(
        F.col("n_i").cast("double") * F.col("n_j").cast("double")
    )
    w = Window.partitionBy("item").orderBy(F.desc(cos), "nbr")
    return (
        j.select(
            "item",
            "n_i",
            "nbr",
            "n_co",
            F.round(cos, 4).alias("cosine_sim"),
            F.row_number().over(w).cast("int").alias("sim_rank"),
        )
        .filter(F.col("sim_rank") <= ITEM_SIM_K)
        .orderBy("item", "sim_rank")
    )


ORACLE["item_item_cosine"] = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem
),
small AS (
  SELECT okey FROM op GROUP BY okey HAVING count(*) <= {BASKET_MAX_PARTS}
),
b AS (
  SELECT op.okey, op.pkey FROM op JOIN small USING (okey)
),
item_n AS (
  SELECT pkey, CAST(count(*) AS BIGINT) AS n_item FROM b GROUP BY 1
),
pairs AS (
  SELECT a.pkey AS part1, b2.pkey AS part2, CAST(count(*) AS BIGINT) AS n_co
  FROM b a JOIN b b2 ON a.okey = b2.okey AND a.pkey < b2.pkey
  GROUP BY 1, 2
),
top_items AS (
  SELECT pkey, n_item FROM item_n ORDER BY n_item DESC, pkey
  LIMIT {ITEM_SIM_TOP_ITEMS}
),
sym AS (
  SELECT part1 AS item, part2 AS nbr, n_co FROM pairs
  UNION ALL
  SELECT part2 AS item, part1 AS nbr, n_co FROM pairs
),
j AS (
  SELECT t.pkey AS item, t.n_item AS n_i, s.nbr, s.n_co, i.n_item AS n_j
  FROM sym s
  JOIN top_items t ON s.item = t.pkey
  JOIN item_n i ON s.nbr = i.pkey
),
r AS (
  SELECT item, n_i, nbr, n_co,
    round(CAST(n_co AS DOUBLE)
      / sqrt(CAST(n_i AS DOUBLE) * CAST(n_j AS DOUBLE)), 4) AS cosine_sim,
    CAST(row_number() OVER (PARTITION BY item
      ORDER BY CAST(n_co AS DOUBLE)
        / sqrt(CAST(n_i AS DOUBLE) * CAST(n_j AS DOUBLE)) DESC, nbr)
      AS INT) AS sim_rank
  FROM j
)
SELECT item, n_i, nbr, n_co, cosine_sim, sim_rank
FROM r WHERE sim_rank <= {ITEM_SIM_K}
ORDER BY item, sim_rank
"""
QUERIES["item_item_cosine"] = item_item_cosine


# ---------------------------------------------------------------------------
# Q17-style small-lot revenue: fact self-comparison against a per-group mean
# ---------------------------------------------------------------------------

SMALL_LOT_FRACTION_NUM = 1  # lot is "small" when qty < (1/5) of part mean
SMALL_LOT_FRACTION_DEN = 5


def small_lot_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked up in SMALL-LOT line items —
    lines whose quantity is below 1/5 of their part's average order
    quantity, rolled up per brand. The classic correlated-subquery
    pattern (``WHERE l_quantity < (SELECT 0.2*avg(..) .. same part)``),
    expressed as ONE window over the part key instead of a second scan
    + self-join: sum/count over ``partition by l_partkey`` gives every
    line its part's mean in the same shuffle that clusters the
    comparison — one Exchange total where the textbook plan pays two
    fact passes.

    Cross-engine exactness: quantities are integer-valued, so the
    threshold test is cleared of float entirely —
    ``qty·DEN·cnt < NUM··sum`` with exact BIGINTs (no 0.2·avg double
    boundary to disagree on). Revenue (sub-cent doubles) rounds 4dp
    in-query on both sides; counts are exact."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    flagged = li.select(
        "l_partkey",
        "l_extendedprice",
        (
            F.col("l_quantity").cast("long")
            * F.lit(SMALL_LOT_FRACTION_DEN)
            * F.count(F.lit(1)).over(w)
            < F.lit(SMALL_LOT_FRACTION_NUM)
            * F.sum(F.col("l_quantity").cast("long")).over(w)
        ).alias("small"),
    ).filter("small")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        flagged.join(part, flagged.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_lots"),
            F.round(F.sum("l_extendedprice"), 4).alias("small_lot_revenue"),
        )
        .orderBy("p_brand")
    )


ORACLE["small_lot_brand_revenue"] = f"""
WITH flagged AS (
  SELECT l_partkey, l_extendedprice
  FROM (
    SELECT l_partkey, l_extendedprice,
      CAST(l_quantity AS BIGINT) * {SMALL_LOT_FRACTION_DEN}
        * count(*) OVER (PARTITION BY l_partkey) AS lhs,
      {SMALL_LOT_FRACTION_NUM}
        * sum(CAST(l_quantity AS BIGINT))
            OVER (PARTITION BY l_partkey) AS rhs
    FROM lineitem
  ) WHERE lhs < rhs
)
SELECT p.p_brand,
  CAST(count(*) AS BIGINT) AS n_small_lots,
  round(sum(f.l_extendedprice), 4) AS small_lot_revenue
FROM flagged f JOIN part p ON p.p_partkey = f.l_partkey
GROUP BY p.p_brand
ORDER BY p.p_brand
"""
QUERIES["small_lot_brand_revenue"] = small_lot_brand_revenue


# ---------------------------------------------------------------------------
# Q18-style large-volume orders: having-filtered fact agg joined back up
# ---------------------------------------------------------------------------

BIG_TICKET_MIN_QTY = 250


def big_ticket_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose TOTAL line quantity crosses a
    volume threshold, decorated with their customer — the
    agg-then-join-back pattern (GROUP BY orderkey HAVING sum(qty) > T,
    then orders ⋈ customer up the star).

    Scale shape: the lineitem agg partial-aggregates map-side and the
    HAVING filter drops ~95% of orders BEFORE the join, so the
    orders-side join input is the small filtered set (AQE converts the
    planned sort-merge to broadcast at runtime when it fits); the
    customer-name join is likewise size-driven. Quantities are integer-valued → the
    threshold and the emitted totals are exact BIGINTs; o_totalprice is
    a raw double passthrough (no arithmetic, no rounding needed).
    Top-20 by (qty desc, orderkey) is TakeOrderedAndProject — per-
    partition heads merged on the driver, never a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    oq = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") >= BIG_TICKET_MIN_QTY)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        oq.join(orders, oq.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_date"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )


ORACLE["big_ticket_orders"] = f"""
WITH oq AS (
  SELECT l_orderkey,
    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
    >= {BIG_TICKET_MIN_QTY}
)
SELECT c.c_name, o.o_orderkey,
  CAST(o.o_orderdate AS DATE) AS o_date,
  o.o_totalprice, oq.total_qty
FROM oq
JOIN orders o ON o.o_orderkey = oq.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY oq.total_qty DESC, o.o_orderkey
LIMIT 20
"""
QUERIES["big_ticket_orders"] = big_ticket_orders


# ---------------------------------------------------------------------------
# Q21-style waiting suppliers: multi-exists rewritten as ONE keyed pass
# ---------------------------------------------------------------------------

WAITING_LATE_DAYS = 60
WAITING_TOP_N = 25


def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier finished order ("kept the order waiting"). This
    schema has no commit/receipt dates, so late := shipped more than
    ``WAITING_LATE_DAYS`` after the order date.

    The textbook plan is three lineitem passes (base + EXISTS semi +
    NOT EXISTS anti). Here the whole predicate collapses into ONE
    shuffle: lineitem ⋈ orders('F') hash-partitions on the order key,
    the (orderkey, suppkey) dedup-with-max(late) aggregate and the two
    per-order window counts (suppliers on the order, late suppliers on
    the order) all reuse that same partitioning — Catalyst inserts no
    further Exchange. ``late AND n_supp > 1 AND n_late = 1`` is then a
    row-local filter, and the SF-linear supplier-name join onto the
    survivors is size-driven (auto-broadcast while it fits). At 100 TB: one fact-fact shuffle instead of three scans;
    the integer late flag makes every aggregate exact."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = F.when(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {WAITING_LATE_DAYS} DAYS"),
        F.lit(1),
    ).otherwise(F.lit(0))
    # ONE explicit shuffle on the order key serves the (okey, skey)
    # dedup-aggregate AND the per-okey window below — without it Catalyst
    # exchanges on (okey, skey) for the agg, then AGAIN on okey for the
    # window (two fact shuffles instead of one).
    ls = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = ls.select(
        "l_suppkey",
        "late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("late").over(w).alias("n_late"),
    ).filter(
        (F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        flagged.join(supp, flagged.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(WAITING_TOP_N)
    )


# the oracle deliberately keeps the TEXTBOOK exists/not-exists form —
# matching it proves the one-pass window rewrite is semantics-preserving
ORACLE["waiting_suppliers"] = f"""
WITH ls AS (
  SELECT l_orderkey AS okey, l_suppkey AS skey,
    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL {WAITING_LATE_DAYS} DAY
        THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY 1, 2
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM ls l1
JOIN supplier s ON s.s_suppkey = l1.skey
WHERE l1.late = 1
  AND EXISTS (SELECT 1 FROM ls l2
              WHERE l2.okey = l1.okey AND l2.skey <> l1.skey)
  AND NOT EXISTS (SELECT 1 FROM ls l3
                  WHERE l3.okey = l1.okey AND l3.skey <> l1.skey
                    AND l3.late = 1)
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT {WAITING_TOP_N}
"""
QUERIES["waiting_suppliers"] = waiting_suppliers


# ---------------------------------------------------------------------------
# Q7-style nation trade volume: dimension filters pushed below the fact join
# ---------------------------------------------------------------------------

TRADE_NATION_A = "NATION_3"
TRADE_NATION_B = "NATION_7"


def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipped volume between two nations (both
    directions), by supplier nation / customer nation / ship year.

    Scale design: the nation-pair predicate is pushed INTO each
    dimension before any fact is touched — supplier and customer each
    shrink to the two target nations (~8% of rows) — still SF-linear,
    so both join size-driven (auto-broadcast while small) and lineitem/
    orders are pre-filtered before the single fact-fact shuffle on the
    order key. The cross-pair condition
    (A→B or B→A) is a row-local filter after that join. The textbook
    plan joins five tables THEN filters; this plan moves the
    selectivity to the scans — at 100 TB the shuffle carries ~0.6% of
    lineitem (8% × 8%) instead of all of it."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(TRADE_NATION_A, TRADE_NATION_B)
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        supp, F.col("l_suppkey") == F.col("s_suppkey")
    )
    ords = load_table(spark, sf_dir, "orders").join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("volume"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE["nation_trade_volume"] = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  year(l_shipdate) AS l_year,
  round(sum(l_extendedprice * (1 - l_discount)), 4) AS volume,
  CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = '{TRADE_NATION_A}' AND n2.n_name = '{TRADE_NATION_B}')
    OR (n1.n_name = '{TRADE_NATION_B}' AND n2.n_name = '{TRADE_NATION_A}'))
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""
QUERIES["nation_trade_volume"] = nation_trade_volume


# ---------------------------------------------------------------------------
# Q8-style brand market share: conditional agg over a region-scoped star
# ---------------------------------------------------------------------------

MKT_SHARE_REGION = "ASIA"
MKT_SHARE_BRAND = "Brand#7"


def brand_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one brand's share of total order volume within
    one region, per order year — numerator and denominator in a SINGLE
    conditional aggregate (sum(CASE brand)/sum(all)) so the fact is
    scanned once, never twice.

    Scale design: region→nation→customer collapses to a pre-filter on
    the orders side (only ~1/5 of customers survive — SF-linear, so the
    join strategy stays size-driven rather than hint-forced); part's
    (partkey, brand) projection joins lineitem the same way. One
    fact-fact shuffle on the order key. The share
    division guards nothing because a group exists only if it has
    lines, and prices are strictly positive — total_volume > 0 by
    construction on both engines."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == MKT_SHARE_REGION
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    ords = load_table(spark, sf_dir, "orders").join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = load_table(spark, sf_dir, "lineitem").join(
        part, F.col("l_partkey") == F.col("p_partkey")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    brand_vol = F.when(F.col("p_brand") == MKT_SHARE_BRAND, vol).otherwise(
        F.lit(0.0)
    )
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(F.sum(brand_vol), 4).alias("brand_volume"),
            F.round(F.sum(vol), 4).alias("total_volume"),
            F.round(F.sum(brand_vol) / F.sum(vol), 4).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


ORACLE["brand_market_share"] = f"""
WITH v AS (
  SELECT year(o_orderdate) AS o_year,
    l_extendedprice * (1 - l_discount) AS vol,
    p_brand
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  JOIN part ON l_partkey = p_partkey
  WHERE r_name = '{MKT_SHARE_REGION}'
)
SELECT o_year,
  round(sum(CASE WHEN p_brand = '{MKT_SHARE_BRAND}' THEN vol ELSE 0.0 END), 4)
    AS brand_volume,
  round(sum(vol), 4) AS total_volume,
  round(sum(CASE WHEN p_brand = '{MKT_SHARE_BRAND}' THEN vol ELSE 0.0 END)
    / sum(vol), 4) AS mkt_share
FROM v
GROUP BY 1
ORDER BY 1
"""
QUERIES["brand_market_share"] = brand_market_share


# ---------------------------------------------------------------------------
# Q13-style customer order-count distribution: agg → left join → re-agg
# ---------------------------------------------------------------------------


def customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    INCLUDING customers with zero orders (the left-join bucket the
    naive inner-join version silently drops).

    Scale design: orders pre-aggregates to (custkey, count) with
    map-side partials — the join input is already one row per customer
    — then the left join back to customer preserves order-less
    customers via coalesce(count, 0). The second aggregate (histogram
    over c_count) is over at most |customer| rows and a few dozen
    groups. At 100 TB this is two bounded shuffles; nothing touches
    raw orders after the first partial agg."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORACLE["customer_order_histogram"] = """
WITH c_orders AS (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM c_orders
GROUP BY 1
ORDER BY custdist DESC, c_count DESC
"""
QUERIES["customer_order_histogram"] = customer_order_histogram


# ---------------------------------------------------------------------------
# Association rules: support / confidence / lift over order baskets
# ---------------------------------------------------------------------------

RULES_MIN_CO = 3  # minimum co-occurrence support (absolute)
RULES_TOP_N = 50


def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules A→B with support, confidence and
    lift — the classic Agrawal-style rule mining read, over the same
    capped basket relation as ``basket_pairs``/``item_item_cosine``.

    Plan: one basket-pair aggregation (skew capped at
    ``BASKET_MAX_PARTS``), symmetrized into directed rules, min-support
    filtered BEFORE any join — the survivors are a catalog-bounded
    handful — then item supports broadcast on and the 1-row basket
    total attaches via a fit-scalar broadcast crossJoin (house BNLJ
    pattern). At 100 TB the only data-sized shuffle is the pair agg;
    everything after the support filter is dimension-sized.

    Cross-engine: counts exact BIGINTs; confidence/lift are divisions
    of exact-integer doubles (deterministic), rounded 4dp; ranking by
    UNROUNDED lift with a total (antecedent, consequent) tie-break."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
    )
    # r13 optimization (two-consumer rule): the capped basket relation
    # feeds item supports, the basket total AND (canonically equal
    # inside basket_pairs_from) the pair mining — persist() dedups all
    # of them onto one basket aggregation; item_n feeds both rule-side
    # joins. 5 lineitem scans in the before-plan → 1.
    baskets = capped_baskets(li).persist()
    pairs = (
        basket_pairs_from(li, ordered=False)
        .withColumnRenamed("n_orders", "n_co")
        .filter(F.col("n_co") >= RULES_MIN_CO)
    )
    item_n = (
        baskets.select(F.explode("parts").alias("pkey"))
        .groupBy("pkey")
        .agg(F.count(F.lit(1)).alias("n_item"))
        .persist()
    )
    rules = pairs.select(
        F.col("part1").alias("antecedent"),
        F.col("part2").alias("consequent"),
        "n_co",
    ).unionAll(
        pairs.select(
            F.col("part2").alias("antecedent"),
            F.col("part1").alias("consequent"),
            "n_co",
        )
    )
    n_baskets = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    j = (
        rules.join(
            item_n.select(
                F.col("pkey").alias("antecedent"), F.col("n_item").alias("n_a")
            ),
            "antecedent",
        )
        .join(
            item_n.select(
                F.col("pkey").alias("consequent"), F.col("n_item").alias("n_b")
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(n_baskets))
    )
    nb = F.col("n_baskets").cast("double")
    conf = F.col("n_co").cast("double") / F.col("n_a").cast("double")
    lift = (
        F.col("n_co").cast("double")
        * nb
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return (
        j.select(
            "antecedent",
            "consequent",
            "n_co",
            "n_a",
            "n_b",
            F.round(F.col("n_co").cast("double") / nb, 4).alias("support"),
            F.round(conf, 4).alias("confidence"),
            F.round(lift, 4).alias("lift"),
            lift.alias("_lift_raw"),
        )
        .orderBy(F.desc("_lift_raw"), "antecedent", "consequent")
        .limit(RULES_TOP_N)
        .drop("_lift_raw")
    )


ORACLE["association_rules"] = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem
),
small AS (
  SELECT okey FROM op GROUP BY okey HAVING count(*) <= {BASKET_MAX_PARTS}
),
b AS (
  SELECT op.okey, op.pkey FROM op JOIN small USING (okey)
),
n_b AS (
  SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM small
),
item_n AS (
  SELECT pkey, CAST(count(*) AS BIGINT) AS n_item FROM b GROUP BY 1
),
pairs AS (
  SELECT a.pkey AS part1, c.pkey AS part2, CAST(count(*) AS BIGINT) AS n_co
  FROM b a JOIN b c ON a.okey = c.okey AND a.pkey < c.pkey
  GROUP BY 1, 2
  HAVING count(*) >= {RULES_MIN_CO}
),
rules AS (
  SELECT part1 AS antecedent, part2 AS consequent, n_co FROM pairs
  UNION ALL
  SELECT part2 AS antecedent, part1 AS consequent, n_co FROM pairs
),
j AS (
  SELECT r.antecedent, r.consequent, r.n_co,
    ia.n_item AS n_a, ic.n_item AS n_b, nb.n_baskets
  FROM rules r
  JOIN item_n ia ON ia.pkey = r.antecedent
  JOIN item_n ic ON ic.pkey = r.consequent
  CROSS JOIN n_b nb
)
SELECT antecedent, consequent, n_co, n_a, n_b,
  round(CAST(n_co AS DOUBLE) / CAST(n_baskets AS DOUBLE), 4) AS support,
  round(CAST(n_co AS DOUBLE) / CAST(n_a AS DOUBLE), 4) AS confidence,
  round(CAST(n_co AS DOUBLE) * CAST(n_baskets AS DOUBLE)
    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 4) AS lift
FROM j
ORDER BY CAST(n_co AS DOUBLE) * CAST(n_baskets AS DOUBLE)
  / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) DESC,
  antecedent, consequent
LIMIT {RULES_TOP_N}
"""
QUERIES["association_rules"] = association_rules


# ---------------------------------------------------------------------------
# Q15 shape: revenue view + max-over-view equality (top supplier)
# ---------------------------------------------------------------------------


def _rev_cents() -> F.Column:
    """Exact discounted-revenue cents: integer-position round of the
    identical per-row IEEE product, folded as BIGINT — the ONE
    definition every round-8 TPC-H shape sums (shared-helper rule: a
    future tweak must hit all consumers and their oracles at once;
    the oracle twin is ``_DUCK_REV_CENTS``)."""
    return F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0, 0
    ).cast("long")


_DUCK_REV_CENTS = (
    "CAST(round(l_extendedprice * (1 - l_discount) * 100.0, 0) AS BIGINT)"
)

TOP_REV_START = "1996-01-01"
TOP_REV_END = "1996-04-01"


def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: a per-supplier revenue "view" over one quarter,
    then the supplier(s) whose revenue EQUALS the view's maximum — the
    max-over-view correlated filter.

    Cross-engine exactness: revenue folds as exact BIGINT cents
    (``round(ep·(1−disc)·100, 0)`` per row — an integer-position round
    of the identical IEEE product, the CLAUDE.md-safe recipe), so the
    max and the equality compare are INTEGER arithmetic — an unordered
    double sum could straddle the max tie on either engine. Scale
    shape: the view is one partial-aggregating hash agg over the
    filtered scan (predicate pushed to parquet); the 1-row global max
    broadcasts back onto the ~|suppliers| view rows (intentional
    tiny-BNLJ, allowlisted); the supplier-name join is size-driven
    (supplier is SF-linear)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(TOP_REV_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(TOP_REV_END).cast("timestamp"))
    )
    cents = _rev_cents()
    rev = li.groupBy("l_suppkey").agg(F.sum(cents).alias("rev_c"))
    mx = rev.agg(F.max("rev_c").alias("max_c"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("rev_c") == F.col("max_c"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_c").cast("double") / 100.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


ORACLE["top_revenue_supplier"] = f"""
WITH rev AS (
  SELECT l_suppkey,
    CAST(sum({_DUCK_REV_CENTS}) AS BIGINT) AS rev_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{TOP_REV_START}'
    AND l_shipdate < TIMESTAMP '{TOP_REV_END}'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name,
  CAST(r.rev_c AS DOUBLE) / 100.0 AS total_revenue
FROM rev r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.rev_c = (SELECT max(rev_c) FROM rev)
ORDER BY s.s_suppkey
"""
QUERIES["top_revenue_supplier"] = top_revenue_supplier


# ---------------------------------------------------------------------------
# Q20 shape: nested aggregation threshold + semi-join (dominant suppliers)
# ---------------------------------------------------------------------------

DOMINANT_SHARE_PCT = 20  # supplier share of a part's lifetime quantity, in %
DOMINANT_MIN_SUPPLIERS = 5  # only parts sourced from >= this many suppliers


def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers admitted through a NESTED aggregation
    threshold — supplier s qualifies if there EXISTS a part whose
    lifetime quantity is >``DOMINANT_SHARE_PCT``% supplied by s, among
    parts sourced from at least ``DOMINANT_MIN_SUPPLIERS`` suppliers
    (Q20's ``ps_availqty > 0.5 · sum(l_quantity)`` with availqty
    re-expressed on this schema's lineitem-only supply facts).

    ONE shuffle serves the whole nesting: the (part, supplier) quantity
    agg hash-partitions on ``l_partkey``; the per-part total and
    supplier count are a window over the SAME partitioning (no second
    Exchange — the Q21 one-pass discipline); the share test
    ``100·q > pct·tq`` is integer arithmetic over exact BIGINT quantity
    sums (l_quantity is integral), so the threshold can't straddle a
    double boundary on either engine. The qualifying-supplier set then
    joins the supplier dim size-driven and the bounded nation dim by
    broadcast hint. At 100 TB: one fact shuffle, no correlated
    re-scan."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    # round-then-cast: a bare cast TRUNCATES on Spark but DuckDB's
    # CAST rounds — identical only while every quantity is integral
    qlong = F.round(F.col("l_quantity"), 0).cast("long")
    sp = (
        li.repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(qlong).alias("q"))
    )
    w = Window.partitionBy("l_partkey")
    dom = (
        sp.select(
            "l_partkey",
            "l_suppkey",
            "q",
            F.sum("q").over(w).alias("tq"),
            F.count(F.lit(1)).over(w).alias("ns"),
        )
        .filter(
            (F.col("ns") >= DOMINANT_MIN_SUPPLIERS)
            & (F.col("q") * 100 > F.lit(DOMINANT_SHARE_PCT) * F.col("tq"))
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        dom.join(supp, dom.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name", "n_dominated_parts")
        .orderBy("s_suppkey")
    )


# the oracle keeps the textbook correlated-subquery form — matching it
# proves the single-shuffle window rewrite is semantics-preserving
ORACLE["dominant_part_suppliers"] = f"""
WITH sp AS (
  SELECT l_partkey, l_suppkey,
    CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
),
p AS (
  SELECT l_partkey, CAST(sum(q) AS BIGINT) AS tq,
    CAST(count(*) AS BIGINT) AS ns
  FROM sp GROUP BY 1
),
dom AS (
  SELECT sp.l_suppkey, CAST(count(*) AS BIGINT) AS n_dominated_parts
  FROM sp JOIN p ON p.l_partkey = sp.l_partkey
  WHERE p.ns >= {DOMINANT_MIN_SUPPLIERS}
    AND sp.q * 100 > {DOMINANT_SHARE_PCT} * p.tq
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, n.n_name, d.n_dominated_parts
FROM dom d
JOIN supplier s ON s.s_suppkey = d.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
ORDER BY s.s_suppkey
"""
QUERIES["dominant_part_suppliers"] = dominant_part_suppliers


# ---------------------------------------------------------------------------
# Q22 shape: global-average correlated filter + anti-join (dormant capital)
# ---------------------------------------------------------------------------

DORMANT_CUTOFF = "2000-06-01"


def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per-nation count and balance of customers whose
    account balance exceeds the GLOBAL average positive balance and who
    placed NO order since ``DORMANT_CUTOFF`` (every sf0.01 customer has
    lifetime orders — TESTDATA fact — so Q22's "never ordered" becomes
    "dormant since the cutoff", preserving the anti-join).

    Cross-engine exactness: balances fold as exact BIGINT cents; the
    above-average test cross-multiplies — ``cents · n > total_cents``
    — so no division or double average exists anywhere (an unordered
    double avg could flip a boundary customer). Scale shape: the 1-row
    global (sum, count) broadcasts onto the customer scan (tiny BNLJ,
    allowlisted); the anti-join probes only cutoff-filtered orders
    (predicate pushed to parquet — a fraction of the fact table);
    nation broadcasts. One shuffle total (the anti-join's)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100.0, 0).cast("long").alias("cents"),
    )
    glob = cust.filter(F.col("cents") > 0).agg(
        F.sum("cents").alias("tot_c"), F.count(F.lit(1)).alias("n_pos")
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(DORMANT_CUTOFF).cast("timestamp"))
        .select("o_custkey")
    )
    rich = cust.join(F.broadcast(glob)).filter(
        F.col("cents") * F.col("n_pos") > F.col("tot_c")
    )
    dormant = rich.join(
        recent, rich.c_custkey == recent.o_custkey, "left_anti"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        dormant.join(
            F.broadcast(nation), dormant.c_nationkey == nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("cents").cast("double") / 100.0).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


ORACLE["dormant_rich_customers"] = f"""
WITH cust AS (
  SELECT c_custkey, c_nationkey,
    CAST(round(c_acctbal * 100.0, 0) AS BIGINT) AS cents
  FROM customer
),
gstat AS (
  SELECT CAST(sum(cents) AS BIGINT) AS tot_c,
    CAST(count(*) AS BIGINT) AS n_pos
  FROM cust WHERE cents > 0
)
SELECT n.n_name, CAST(count(*) AS BIGINT) AS numcust,
  CAST(CAST(sum(c.cents) AS BIGINT) AS DOUBLE) / 100.0 AS totacctbal
FROM cust c CROSS JOIN gstat g
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE c.cents * g.n_pos > g.tot_c
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '{DORMANT_CUTOFF}')
GROUP BY 1
ORDER BY n.n_name
"""
QUERIES["dormant_rich_customers"] = dormant_rich_customers


# ---------------------------------------------------------------------------
# Q11 shape: group share vs a global-threshold scalar (value concentration)
# ---------------------------------------------------------------------------

# fraction as an exact integer ratio (0.0008 = 8 / 10000): the share test
# cross-multiplies BIGINTs so no double ever enters the threshold compare
CONC_FRAC_NUM = 8
CONC_FRAC_DEN = 10000


def concentrated_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose total discounted revenue exceeds a
    FRACTION of the global total — the group-share-vs-global-threshold
    query (Q11's ``ps_supplycost·ps_availqty`` value re-expressed as
    lineitem discounted revenue on this schema).

    Cross-engine exactness: revenue folds as exact BIGINT cents and the
    threshold is the integer cross-multiplication
    ``v·DEN > NUM·total`` — no double division, average, or fraction
    literal anywhere (DuckDB decimal-literal division would give
    DECIMAL semantics; a double sum would be partition-order-
    dependent). Headroom: at 100 TB global cents ≈ 1e16, ×8 < 2^63;
    per-part cents ×1e4 < 2^63. Scale shape: one partial-aggregating
    hash agg over the scan; the 1-row global total broadcasts onto the
    ~|parts| aggregate rows (tiny BNLJ, allowlisted); the part-name
    join is size-driven (part is SF-linear). ORDER BY value DESC with partkey tie."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = _rev_cents()
    pv = li.groupBy("l_partkey").agg(F.sum(cents).alias("v_c"))
    tot = pv.agg(F.sum("v_c").alias("t_c"))
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        pv.join(F.broadcast(tot))
        .filter(
            F.col("v_c") * F.lit(CONC_FRAC_DEN)
            > F.lit(CONC_FRAC_NUM) * F.col("t_c")
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey",
            "p_name",
            (F.col("v_c").cast("double") / 100.0).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


ORACLE["concentrated_part_values"] = f"""
WITH pv AS (
  SELECT l_partkey,
    CAST(sum({_DUCK_REV_CENTS}) AS BIGINT) AS v_c
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(sum(v_c) AS BIGINT) AS t_c FROM pv)
SELECT p.p_partkey, p.p_name, CAST(v.v_c AS DOUBLE) / 100.0 AS part_value
FROM pv v CROSS JOIN tot t
JOIN part p ON p.p_partkey = v.l_partkey
WHERE v.v_c * {CONC_FRAC_DEN} > {CONC_FRAC_NUM} * t.t_c
ORDER BY part_value DESC, p.p_partkey
"""
QUERIES["concentrated_part_values"] = concentrated_part_values


# ---------------------------------------------------------------------------
# Q6 shape: tight-band scan aggregate (forecast revenue change)
# ---------------------------------------------------------------------------


def forecast_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-side query — revenue that would
    have been gained by eliminating small discounts on low-quantity
    lines in one year. Every predicate (shipdate band, discount band,
    quantity cap) pushes to the parquet scan; the aggregate is one
    map-side partial fold of exact discount-cents, so at 100 TB this is
    IO-bound with zero shuffle beyond the 1-row final."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    cents = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 100.0, 0
    ).cast("long")
    return li.agg(
        F.count(F.lit(1)).alias("n_lines"),
        (F.sum(cents).cast("double") / 100.0).alias("revenue"),
    )


ORACLE["forecast_discount_revenue"] = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
  CAST(CAST(sum(CAST(round(l_extendedprice * l_discount * 100.0, 0)
                     AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""
QUERIES["forecast_discount_revenue"] = forecast_discount_revenue


# ---------------------------------------------------------------------------
# Q4 shape: EXISTS semi-join -> priority count (late-order report)
# ---------------------------------------------------------------------------

LATE_ORDER_DAYS = 60


def priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per order priority, how many orders in one half-
    year had AT LEAST ONE line shipped more than ``LATE_ORDER_DAYS``
    after the order date (this schema's late predicate — no
    commit/receipt dates). The EXISTS collapses to distinct (order,
    priority) after the filtered join: the order-window filter pushes
    below the fact join, the distinct and the count reuse the join's
    orderkey partitioning, and priorities are 5 rows out."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_ORDER_DAYS} DAYS")
        )
        .select("o_orderkey", "o_orderpriority")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


ORACLE["priority_late_orders"] = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate
                    + INTERVAL {LATE_ORDER_DAYS} DAY)
GROUP BY 1
ORDER BY 1
"""
QUERIES["priority_late_orders"] = priority_late_orders


# ---------------------------------------------------------------------------
# Q10 shape: returned-item losses, top customers
# ---------------------------------------------------------------------------

RETURNED_TOP_N = 20


def returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the quarter's top-``RETURNED_TOP_N`` customers
    by revenue lost to returned items ('R' lines). One fact-fact join
    (order window + returnflag both pushed below it), exact cents agg
    on the customer key, then broadcast dims and TakeOrdered top-k —
    no global sort at any scale."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    cents = _rev_cents()
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("lost_c"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            (F.col("lost_c").cast("double") / 100.0).alias("lost_revenue"),
        )
        .orderBy(F.desc("lost_revenue"), "c_custkey")
        .limit(RETURNED_TOP_N)
    )


ORACLE["returned_item_losses"] = f"""
WITH per_cust AS (
  SELECT o_custkey,
    CAST(sum({_DUCK_REV_CENTS}) AS BIGINT) AS lost_c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1996-04-01'
    AND l_returnflag = 'R'
  GROUP BY 1
)
SELECT c.c_custkey, c.c_name, n.n_name,
  CAST(p.lost_c AS DOUBLE) / 100.0 AS lost_revenue
FROM per_cust p
JOIN customer c ON c.c_custkey = p.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
ORDER BY lost_revenue DESC, c.c_custkey
LIMIT {RETURNED_TOP_N}
"""
QUERIES["returned_item_losses"] = returned_item_losses


# ---------------------------------------------------------------------------
# Q14 shape: promo revenue share (conditional-sum ratio)
# ---------------------------------------------------------------------------


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: the month's PROMO-part share of discounted
    revenue — a conditional-sum ratio after a dimension join. Part
    (2k rows/sf0.01) broadcasts; both sums fold exact cents in ONE agg.
    The share rounds at the INTEGER position on the 1e4-scaled ratio
    (the CLAUDE.md derived-arithmetic rule: a 4dp round of the raw
    ratio could straddle a repr half; integer halves are exactly
    representable so both engines agree) and divides by 1e4 for
    display; the zero-denominator guard satisfies ANSI Spark."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = _rev_cents()
    agg = (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))
            ).alias("promo_c"),
            F.sum(cents).alias("total_c"),
        )
    )
    share = F.when(
        F.col("total_c") > 0,
        F.round(
            F.col("promo_c").cast("double")
            / F.col("total_c").cast("double")
            * 10000.0,
            0,
        )
        / 10000.0,
    )
    return agg.select(
        (F.col("promo_c").cast("double") / 100.0).alias("promo_revenue"),
        (F.col("total_c").cast("double") / 100.0).alias("total_revenue"),
        share.alias("promo_share"),
    )


ORACLE["promo_revenue_share"] = f"""
WITH agg AS (
  SELECT
    CAST(sum(CASE WHEN p_type = 'PROMO'
             THEN {_DUCK_REV_CENTS} ELSE 0 END) AS BIGINT) AS promo_c,
    CAST(sum({_DUCK_REV_CENTS}) AS BIGINT) AS total_c
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
)
SELECT CAST(promo_c AS DOUBLE) / 100.0 AS promo_revenue,
  CAST(total_c AS DOUBLE) / 100.0 AS total_revenue,
  CASE WHEN total_c > 0 THEN
    round(CAST(promo_c AS DOUBLE) / CAST(total_c AS DOUBLE) * 10000.0, 0)
      / 10000.0 END AS promo_share
FROM agg
"""
QUERIES["promo_revenue_share"] = promo_revenue_share


# ---------------------------------------------------------------------------
# Q9 shape: product-line profit by nation and order year
# ---------------------------------------------------------------------------

PROFIT_COLOR = "red"  # p_name leads with a color word
PROFIT_COST_PCT = 60  # cost basis: 60% of retail price per unit


def color_part_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on one product line (parts whose name
    starts with ``PROFIT_COLOR``) grouped by supplier nation × order
    year. This schema has no partsupp supply cost, so cost :=
    ``PROFIT_COST_PCT``% of the part's retail price per unit — the
    adaptation keeps Q9's whole join tree (lineitem ⋈ orders ⋈ part ⋈
    supplier ⋈ nation) and its two-measure arithmetic.

    Exactness: revenue cents and cost cents both round at the INTEGER
    position on the identical per-row IEEE product (retail price has
    2dp, quantity is integral, so qty·retail·60 lands on exact cents),
    then fold as BIGINTs — profit is an exact integer difference. The
    name filter prunes part BEFORE broadcast; the only fact-fact
    shuffle is lineitem ⋈ orders on the order key."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith(PROFIT_COLOR + " "))
        .select("p_partkey", "p_retailprice")
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev_c = _rev_cents()
    cost_c = F.round(
        F.col("l_quantity") * F.col("p_retailprice") * PROFIT_COST_PCT, 0
    ).cast("long")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "o_year")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            ((F.sum(rev_c) - F.sum(cost_c)).cast("double") / 100.0).alias(
                "profit"
            ),
        )
        .orderBy("n_name", F.desc("o_year"))
    )


ORACLE["color_part_profit"] = f"""
SELECT n.n_name, CAST(year(o.o_orderdate) AS INT) AS o_year,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100.0,
                           0) AS BIGINT)) AS BIGINT)
       - CAST(sum(CAST(round(l.l_quantity * p.p_retailprice
                             * {PROFIT_COST_PCT}, 0) AS BIGINT)) AS BIGINT)
       AS DOUBLE) / 100.0 AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '{PROFIT_COLOR} %'
GROUP BY 1, 2
ORDER BY n.n_name, o_year DESC
"""
QUERIES["color_part_profit"] = color_part_profit


# ---------------------------------------------------------------------------
# Q16 shape: supplier breadth per part group, with an exclusion anti-join
# ---------------------------------------------------------------------------


def supplier_breadth_by_parttype(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 shape: how many DISTINCT suppliers ship each
    (brand, type) part group, excluding a supplier denylist (Q16's
    complaint suppliers — here suppliers with negative account
    balance). The distinct count runs two-level (distinct triple, then
    count per group — the dedup_exact_summary discipline: no Expand
    over the fact rows); the ≤|suppliers| denylist broadcast anti-joins
    BEFORE any aggregation, so excluded rows never shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("bad_key"))
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type"
    )
    return (
        li.join(bad, li.l_suppkey == bad.bad_key, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .select("p_brand", "p_type", "l_suppkey")
        .distinct()
        .groupBy("p_brand", "p_type")
        .agg(F.count(F.lit(1)).alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type")
    )


ORACLE["supplier_breadth_by_parttype"] = """
SELECT p.p_brand, p.p_type,
  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 0)
GROUP BY 1, 2
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type
"""
QUERIES["supplier_breadth_by_parttype"] = supplier_breadth_by_parttype


# ---------------------------------------------------------------------------
# Q19 shape: disjunctive multi-attribute predicate (OR-of-conjuncts)
# ---------------------------------------------------------------------------

DISJ_ARMS = (
    ("Brand#5", 1, 11, 1, 5),
    ("Brand#15", 10, 20, 1, 10),
    ("Brand#25", 20, 30, 1, 15),
)


def disjunctive_bulk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three brand/quantity/size
    conjunct arms — the disjunctive-predicate query that exercises
    Catalyst's CNF handling: the part-side conjuncts (brand, size)
    prune the part side before the join, and the mixed
    lineitem-side bounds evaluate row-local after it. Emits per-arm
    line counts plus the blended exact-cents revenue in one agg."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    joined = li.join(part, li.l_partkey == part.p_partkey)
    arms = [
        (F.col("p_brand") == b)
        & (F.col("l_quantity") >= qlo)
        & (F.col("l_quantity") <= qhi)
        & (F.col("p_size") >= slo)
        & (F.col("p_size") <= shi)
        for b, qlo, qhi, slo, shi in DISJ_ARMS
    ]
    pred = arms[0]
    for a in arms[1:]:
        pred = pred | a
    cents = _rev_cents()
    return joined.filter(pred).agg(
        *[
            F.sum(a.cast("int")).alias(f"n_arm{i + 1}")
            for i, a in enumerate(arms)
        ],
        F.count(F.lit(1)).alias("n_lines"),
        (F.sum(cents).cast("double") / 100.0).alias("revenue"),
    )


def _disj_oracle() -> str:
    arm_sql = [
        f"(p_brand = '{b}' AND l_quantity BETWEEN {qlo} AND {qhi}"
        f" AND p_size BETWEEN {slo} AND {shi})"
        for b, qlo, qhi, slo, shi in DISJ_ARMS
    ]
    arm_counts = ",\n  ".join(
        f"CAST(sum(CASE WHEN {a} THEN 1 ELSE 0 END) AS BIGINT) AS n_arm{i+1}"
        for i, a in enumerate(arm_sql)
    )
    return f"""
SELECT
  {arm_counts},
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(CAST(sum({_DUCK_REV_CENTS}) AS BIGINT) AS DOUBLE) / 100.0 AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE {" OR ".join(arm_sql)}
"""


ORACLE["disjunctive_bulk_revenue"] = _disj_oracle()
QUERIES["disjunctive_bulk_revenue"] = disjunctive_bulk_revenue


# ---------------------------------------------------------------------------
# Q2 shape: min-cost supplier per part (correlated min + tie rule)
# ---------------------------------------------------------------------------

CHEAPEST_PART_SIZE = 25


def cheapest_supplier_per_part(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q2 shape: for every size-``CHEAPEST_PART_SIZE`` part, the
    supplier with the LOWEST observed unit price, ties to the smaller
    suppkey (Q2's min-supplycost correlated subquery; supply cost is
    re-expressed as lineitem revenue-cents per unit since the schema
    has no partsupp).

    Determinism: per (part, supplier) the unit price is the division
    of two exact BIGINTs (Σcents / Σqty) — both engines compute the
    IDENTICAL double, so the per-part row_number order (unit price,
    suppkey) can't diverge; the display price uses the 1e4-scale
    integer-position round. One shuffle on the part key serves the agg
    and the ranking window (superset-clustering rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == CHEAPEST_PART_SIZE)
        .select("p_partkey", "p_name")
    )
    cents = _rev_cents()
    sp = (
        li.join(part, li.l_partkey == part.p_partkey)
        .repartition("p_partkey")
        .groupBy("p_partkey", "p_name", "l_suppkey")
        .agg(
            F.sum(cents).alias("c"),
            # round-then-cast (see dominant_part_suppliers)
            F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("q"),
        )
    )
    unit = F.col("c").cast("double") / F.col("q").cast("double")
    w = Window.partitionBy("p_partkey").orderBy(unit.asc(), F.col("l_suppkey"))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        sp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            (
                F.round(unit * 100.0, 0) / 10000.0
            ).alias("unit_price"),
        )
        .orderBy("p_partkey")
    )


ORACLE["cheapest_supplier_per_part"] = f"""
WITH sp AS (
  SELECT l_partkey, p_name, l_suppkey,
    CAST(sum({_DUCK_REV_CENTS}) AS BIGINT) AS c,
    CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_size = {CHEAPEST_PART_SIZE}
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY l_partkey
    ORDER BY CAST(c AS DOUBLE) / CAST(q AS DOUBLE), l_suppkey) AS rn
  FROM sp
)
SELECT r.l_partkey AS p_partkey, r.p_name, s.s_name, n.n_name,
  round(CAST(r.c AS DOUBLE) / CAST(r.q AS DOUBLE) * 100.0, 0)
    / 10000.0 AS unit_price
FROM ranked r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE r.rn = 1
ORDER BY r.l_partkey
"""
QUERIES["cheapest_supplier_per_part"] = cheapest_supplier_per_part


# ---------------------------------------------------------------------------
# Q12 shape: late-line priority mix (conditional counts after a fact join)
# ---------------------------------------------------------------------------


def late_lines_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: among lines shipped more than ``LATE_ORDER_DAYS``
    after their order date in one year, the high- vs low-priority order
    mix per return flag (this schema has no ship mode — the return flag
    plays Q12's grouping role; the late predicate is the Q4/Q21 one).
    The CASE counts fold in one aggregate after the one fact-fact
    join; the ship-date window pushes below the join on the lineitem
    side (orders is scanned unfiltered — the lateness predicate needs
    every order's date, unlike Q4's order-window variant)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_ORDER_DAYS} DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


ORACLE["late_lines_priority_mix"] = f"""
SELECT l_returnflag,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL {LATE_ORDER_DAYS} DAY
GROUP BY 1
ORDER BY 1
"""
QUERIES["late_lines_priority_mix"] = late_lines_priority_mix
