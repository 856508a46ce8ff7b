"""Advanced relational operators beyond the reference surface: as-of join,
hierarchical rollup, set operations, distinct-cardinality profiling.

The reference is single-table (SURVEY.md §2.4: no joins at all); these are
the operators a Spark engine gets to add because the driver's star schema
and event stream invite them. Each has a DuckDB oracle; the as-of join is
deliberately checked against DuckDB's NATIVE ``ASOF JOIN`` so the two
engines implement the same semantics via different algorithms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.grouping import grouping_sets_with_total
from ..functions.hashing import duck_md5_int, md5_int_sql
from ..sources.registry import load_table


def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each ``click`` event, the same user's most recent ``purchase``
    at-or-before the click (inner as-of join).

    Implementation is the sort-based union-marker merge — the plan that
    survives 100 TB: tag purchases kind=0 and clicks kind=1, union, ONE
    hash shuffle on user_id, sort within partition by (ts, kind), and a
    running ``last(..., ignorenulls)`` window carries the latest purchase
    forward onto each click row. No range cross-join, no per-row probe;
    state per partition is O(1). The (ts, kind) sort order makes a
    purchase at the exact click timestamp visible to that click —
    identical inclusivity to DuckDB's ``ASOF JOIN ON e.ts >= p.ts``.

    Purchases are pre-collapsed to one row per (user_id, ts) keeping
    max(value): with two purchases at the same instant, both the window
    merge and DuckDB's ASOF JOIN would otherwise pick an ARBITRARY peer
    and the engines could disagree — the collapse (mirrored in the
    oracle) makes ties impossible.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("kind"),
            F.lit(None).cast("long").alias("event_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        "event_id",
        F.lit(None).cast("timestamp").alias("p_ts"),
        F.lit(None).cast("double").alias("p_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = purchases.unionByName(clicks).select(
        "user_id",
        "ts",
        "kind",
        "event_id",
        F.last("p_ts", ignorenulls=True).over(w).alias("last_purchase_ts"),
        F.last("p_value", ignorenulls=True).over(w).alias("purchase_value"),
    )
    return (
        merged.filter(
            (F.col("kind") == 1) & F.col("last_purchase_ts").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            "last_purchase_ts",
            F.round("purchase_value", 4).alias("purchase_value"),
        )
        .orderBy("event_id")
    )


def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each ``click``, the same user's FIRST
    purchase at-or-after it, plus the microsecond gap — time-to-conversion,
    the mirror of ``asof_click_purchase``. Same union-marker merge, run
    forward: one user_id shuffle, in-partition sort on (ts, kind) with
    clicks ordered BEFORE same-instant purchases, and a
    ``first(ignorenulls)`` window over [current, ∞) carries the next
    purchase back onto each click. Purchases pre-collapse per (user, ts)
    to max(value) so the engines can't pick different same-instant peers.
    Oracle: DuckDB native ASOF JOIN with ``<=`` (nearest following)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
        .select(
            "user_id",
            "ts",
            F.lit(1).alias("kind"),
            F.lit(None).cast("long").alias("event_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        "event_id",
        F.lit(None).cast("timestamp").alias("p_ts"),
        F.lit(None).cast("double").alias("p_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = purchases.unionByName(clicks).select(
        "user_id",
        "ts",
        "kind",
        "event_id",
        F.first("p_ts", ignorenulls=True).over(w).alias("next_purchase_ts"),
        F.first("p_value", ignorenulls=True).over(w).alias("purchase_value"),
    )
    return (
        merged.filter(
            (F.col("kind") == 0) & F.col("next_purchase_ts").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            "next_purchase_ts",
            F.round("purchase_value", 4).alias("purchase_value"),
            (
                F.unix_micros("next_purchase_ts") - F.unix_micros("ts")
            ).alias("gap_us"),
        )
        .orderBy("event_id")
    )


ANOMALY_Z = 1.5


def daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware volume anomaly detection: flag (day, event_type)
    cells whose event count deviates ≥ 1.5 robust-z from that type's OWN
    day-of-week baseline — the monitoring rule that doesn't page on
    weekends (compare ``dow_seasonality``, which draws the baseline this
    rule consumes).

    Two aggregates over the already-daily grid: per-(type, dow) mean and
    sample stddev across weeks, joined back to the daily cells (a
    |types|×7-row broadcast). z is computed on both engines from the
    same rounded inputs and thresholded on the ROUNDED value, so cell
    membership can't differ by a low bit. Constant-count baselines
    (stddev exactly 0 — Welford keeps it exact on both engines) are
    excluded: no variance, no anomaly signal.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    daily = daily.withColumn("dow", F.dayofweek(F.col("day")))
    base = daily.groupBy("event_type", "dow").agg(
        F.avg("n_events").alias("mu"),
        F.stddev_samp("n_events").alias("sigma"),
    )
    # z from the ROUNDED mu/sigma: a last-ulp Welford-merge-order
    # difference in raw sigma could otherwise flip the rounded z at a
    # .00005 boundary — and with it row MEMBERSHIP in the threshold
    # filter. Rounded inputs make both engines divide identical numbers.
    mu4 = F.round("mu", 4)
    sigma4 = F.round("sigma", 4)
    z = F.round((F.col("n_events") - mu4) / sigma4, 4)
    return (
        daily.join(F.broadcast(base), ["event_type", "dow"])
        .filter(sigma4 > 0)
        .select(
            "day",
            "event_type",
            "n_events",
            mu4.alias("expected"),
            z.alias("z_score"),
        )
        .filter(F.abs(F.col("z_score")) >= ANOMALY_Z)
        .orderBy("day", "event_type")
    )


def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the engagement
    triple every product dashboard opens with.

    WAU's "distinct users over a sliding 7-day window" does NOT compose
    from daily distinct counts (distincts don't sum). The distributed
    form used here: collapse to distinct (user, active-day) pairs once,
    then map-side explode each pair into the 7 report days it supports —
    a bounded ×7 fan-out of the ALREADY-collapSED relation — and count
    distinct users per report day. Report days are clipped to the
    observed range so every emitted row is a real calendar day. At
    billion-user scale the exact distinct swaps for HLL sketches
    (approx_count_distinct, mergeable across days — same contract as
    `column_cardinalities`); the explode trick is unchanged.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    bounds = days.agg(
        F.max("day").alias("max_day")
    )
    dau = days.groupBy("day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    exploded = (
        days.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.expr(
                    "filter(transform(sequence(0, 6), "
                    "i -> date_add(day, i)), d -> d <= max_day)"
                )
            ).alias("day"),
        )
        .distinct()
    )
    wau = exploded.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
        .orderBy("day")
    )


def conversion_time_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-to-conversion distribution per A/B variant: exact
    p50/p90/p99 of the click→next-purchase gap, composed directly over
    the forward as-of join (operator composition — the gap relation is
    ``asof_next_purchase``'s output, not a re-derivation).

    Exact `percentile` ≡ DuckDB `quantile_cont` on the integer µs gaps
    (interpolation arithmetic is identical); seconds conversion and 4dp
    round happen after. At scale the exact percentile's per-group sort
    swaps for `percentile_approx` (t-digest) — same contract as
    `value_percentiles`.
    """
    gaps = asof_next_purchase(spark, sf_dir).select(
        (F.col("user_id") % 2).alias("variant"), "gap_us"
    )
    secs = lambda q: F.round(  # noqa: E731
        F.expr(f"percentile(gap_us, {q})") / 1_000_000.0, 4
    )
    return (
        gaps.groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            secs(0.5).alias("p50_s"),
            secs(0.9).alias("p90_s"),
            secs(0.99).alias("p99_s"),
        )
        .orderBy("variant")
    )


def dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type: volume share and
    value level per weekday against the type's own baseline — the
    seasonal decomposition a monitoring stack draws before flagging a
    'drop' that is just a weekend. One hash aggregate to the 5×7 grid;
    the baseline windows run over the 35-row result (free at any input
    scale). dayofweek is 1=Sunday..7=Saturday in BOTH engines given
    UTC session time (Spark) and naive timestamps (DuckDB).
    """
    ev = load_table(spark, sf_dir, "events")
    grid = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )
    w = Window.partitionBy("event_type")
    return grid.select(
        "event_type",
        "dow",
        "n_events",
        F.round(
            F.col("n_events") / F.sum("n_events").over(w), 4
        ).alias("volume_share"),
        "avg_value",
    ).orderBy("event_type", "dow")


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals region → nation → grand total: the rollup's
    sets.

    Catalyst expands the (region, nation) and (region) sets into a single
    Expand + hash aggregate — one shuffle regardless of hierarchy depth;
    the grand total is a global aggregate, so it keeps its row over empty
    input (``grouping_sets_with_total``). The region/nation dims are
    tiny, so both joins broadcast (no shuffle on the fact side before the
    agg)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(
            cust,  # customer is SF-linear: size-driven, no forced broadcast
            orders.o_custkey == cust.c_custkey,
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        grouping_sets_with_total(
            joined,
            [["r_name", "n_name"], ["r_name"]],
            ["r_name", "n_name"],
            [
                F.round(F.sum("o_totalprice"), 4).alias("revenue"),
                F.count(F.lit(1)).alias("n_orders"),
            ],
        )
        .orderBy(
            F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first()
        )
    )


def customer_year_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation semantics on yearly active-customer sets: retained
    (INTERSECT), churned / new (EXCEPT), total active (UNION). One row.

    The plan is NOT the intersect/exceptAll/union operator chain — that
    form re-shuffles the two year-sets once per set operator (16
    exchanges for four counts, measured). Membership flags do it in TWO:
    one groupBy custkey with per-year max() flags, one 1-row aggregate
    counting each flag combination. Same counts, 8× less data motion,
    and the pattern extends to k years for the same two shuffles.
    `test_year_sets_flags_equal_native_set_ops` pins this plan equal to
    the native intersect/exceptAll/union operators on the same data."""
    orders = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    flags = (
        orders.filter(y.isin(1995, 1996))
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(y == 1995, 1).otherwise(0)).alias("h95"),
            F.max(F.when(y == 1996, 1).otherwise(0)).alias("h96"),
        )
    )
    h95, h96 = F.col("h95") == 1, F.col("h96") == 1
    # count_if, not sum: 0 (not NULL) when no customer is active
    return flags.agg(
        F.count_if(h95 & h96).alias("retained"),
        F.count_if(h95 & ~h96).alias("churned"),
        F.count_if(h96 & ~h95).alias("acquired"),
        F.count(F.lit(1)).alias("total_active"),
    )


def column_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-cardinality profile of the events table (the oracle
    form; ``approx_count_distinct`` — HyperLogLog++, no shuffle of raw
    values — is the 100 TB path, asserted within 5% in tests)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.countDistinct("event_id").alias("n_event_ids"),
    )


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (p50/p90/p99 of event value).

    ``percentile`` is the exact sort-based form and interpolates identically
    to DuckDB's ``quantile_cont`` — bit-equal cross-engine. At 100 TB the
    drop-in is ``percentile_approx`` (t-digest sketch: mergeable, bounded
    memory, no per-group sort); it is approximate, so the oracle pins the
    exact form and the sketch stays a documented swap."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.5, 0.9, 0.99))")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(pct[0], 4).alias("p50"),
            F.round(pct[1], 4).alias("p90"),
            F.round(pct[2], 4).alias("p99"),
        )
        .orderBy("event_type")
    )


def event_type_hour_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, hour-of-day): the three keyed grouping
    combinations in one Expand + single hash aggregate — one shuffle —
    and the grand total as a global aggregate, which keeps its row over
    empty input (``grouping_sets_with_total``)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour_of_day", F.hour("ts")
    )
    return (
        grouping_sets_with_total(
            ev,
            [["event_type", "hour_of_day"], ["event_type"], ["hour_of_day"]],
            ["event_type", "hour_of_day"],
            [
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            ],
        )
        .orderBy(
            F.col("event_type").asc_nulls_first(),
            F.col("hour_of_day").asc_nulls_first(),
        )
    )


def user_value_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score normalization of event values via ``applyInPandas``
    (grouped-map): each user's events arrive as one pandas frame, normalized
    vectorized, emitted back — the canonical per-group custom transform
    when the logic needs whole-group context in Python.

    Shuffle shape: one hash partition on a COARSE user bucket, not the raw
    user_id — grouped-map pays a per-group Arrow round-trip, so 1500 tiny
    frames cost ~5s where 32 big ones cost ~1s. Each closure call handles
    many users and vectorizes the per-user stats with pandas groupby
    (still whole-group context per user — the bucket only packs users
    together, it never splits one). The sample-stddev (ddof=1) and guard
    match the oracle's stddev_samp window exactly; the 4dp rounding is
    in-query F.round (half-up, matching DuckDB) — pandas .round would
    tie-break half-even and diverge on exact halves.
    """
    ev = load_table(spark, sf_dir, "events")
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def normalize(pdf):
        import numpy as np

        grp = pdf.groupby("user_id")["value"]
        std = grp.transform("std")  # ddof=1, matches stddev_samp
        mean = grp.transform("mean")
        out = pdf[["user_id", "event_id"]].copy()
        out["v_norm"] = (pdf["value"] - mean) / std
        # single-event / constant-value users: reference drops them
        return out[np.isfinite(std) & (std != 0.0)]

    return (
        ev.select("user_id", "event_id", "value")
        .groupBy(F.pmod(F.col("user_id"), F.lit(n_buckets)).alias("bucket"))
        .applyInPandas(normalize, schema="user_id long, event_id long, v_norm double")
        # + 0.0: a z-score in (-0.00005, 0) rounds to -0.0 on one engine
        # only (CLAUDE.md negative-zero hash hazard)
        .withColumn("v_norm", F.round("v_norm", 4) + F.lit(0.0))
        .orderBy("user_id", "event_id")
    )


# (table, key columns) for the integrity checksum — key/categorical columns
# only: float rendering differs across engines, so doubles stay out of the
# canonical row string
_CHECKSUM_COLS = {
    "customer": ["c_custkey", "c_name", "c_mktsegment"],
    "orders": ["o_orderkey", "o_orderstatus", "o_orderpriority"],
    "documents": ["doc_id", "lang", "source"],
}


def table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table checksums: per table, the SUM of md5-derived
    32-bit ints over a canonical row string — the cross-cluster integrity
    primitive (same rows anywhere → same checksum; any row lost, duplicated
    or mutated moves it). Commutative sum means no sort, no single-reducer
    bottleneck: each table is one map-side pass + a 1-row agg."""
    parts = []
    for tbl, cols in _CHECKSUM_COLS.items():
        row_str = "concat_ws('|', " + ", ".join(
            f"CAST({c} AS STRING)" for c in cols
        ) + ")"
        h = F.expr(md5_int_sql(row_str))
        parts.append(
            load_table(spark, sf_dir, tbl).agg(
                F.lit(tbl).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(h).alias("checksum"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name")


DIFF_BUCKETS = 64
DRIFT_MOD = 1000  # simulated replica drift: 1 in 1000 orders mutated


def bucket_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica reconciliation by bucketed checksums: find WHICH key
    buckets of two table copies differ without a row-by-row compare —
    the way you diff a 100 TB table against its replica (compare 64
    numbers; only differing buckets ever need row-level inspection).

    Copy A is ``orders`` as-is; copy B simulates drift by flipping the
    priority of 1-in-1000 orders (deterministic ``o_orderkey`` rule —
    the 'replica that missed some updates' scenario). Each copy
    aggregates to (bucket = custkey % 64, commutative md5-int checksum,
    row count) in one map-side pass, and the 64-row join labels each
    bucket matched/diverged. The emitted relation proves both the
    detection (drifted buckets flagged) and the blast-radius bound
    (clean buckets provably identical — same checksum ⇒ same rows up to
    md5 collision odds)."""
    orders = load_table(spark, sf_dir, "orders")
    row_str = (
        "concat_ws('|', CAST(o_orderkey AS STRING), o_orderstatus, "
        "o_orderpriority)"
    )
    drifted = orders.withColumn(
        "o_orderpriority",
        F.when(
            F.col("o_orderkey") % DRIFT_MOD == 7, F.lit("9-DRIFTED")
        ).otherwise(F.col("o_orderpriority")),
    )

    def summarize(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(
                (F.col("o_custkey") % DIFF_BUCKETS).alias("bucket"),
                F.expr(md5_int_sql(row_str)).alias("h"),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias(f"n_{side}"),
                F.sum("h").alias(f"checksum_{side}"),
            )
        )

    return (
        summarize(orders, "a")
        .join(summarize(drifted, "b"), "bucket", "full_outer")
        .select(
            "bucket",
            "n_a",
            "n_b",
            F.when(
                (F.col("n_a") == F.col("n_b"))
                & (F.col("checksum_a") == F.col("checksum_b")),
                1,
            )
            .otherwise(0)
            .alias("is_match"),
        )
        .orderBy("bucket")
    )


# corpus snapshot diff: deterministic simulated second version of the
# documents table (the cross-run lineage primitive — VERDICT r9 item 7)
SNAP_BUCKETS = 64
SNAP_ADD_MOD, SNAP_ADD_RES = 17, 3  # docs present only in the NEW snapshot
SNAP_DEL_MOD, SNAP_DEL_RES = 23, 5  # docs present only in the OLD snapshot
SNAP_CHG_MOD, SNAP_CHG_RES = 11, 2  # docs whose content changed in NEW


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-version corpus lineage: classify per-bucket drift between
    two corpus snapshots — per key bucket, how many docs were ADDED,
    REMOVED, or CHANGED between version A and version B, plus the
    bucket-level checksum verdict. The audit a training-data pipeline
    runs between corpus releases: 'what moved since the version the
    last model trained on, and where' — diffing 100 TB against 100 TB
    without a corpus-wide row compare.

    Two-level plan (the ``bucket_checksum_diff`` machinery extended to
    row-level blast radius): (1) each snapshot folds to a 64-row
    (bucket, count, commutative md5-int checksum) summary in ONE
    map-side pass — the same order-insensitive integrity primitive as
    ``table_checksums``; (2) ONLY buckets whose summaries disagree get
    the row-level full-outer diff (semi-join on the ≤64-row dirty
    bucket list prunes both sides BEFORE the doc_id shuffle; on a
    bucket-partitioned corpus table the dirty-bucket read is partition-
    pruned I/O, so the expensive pass touches only the blast radius).
    Clean buckets are PROVABLY identical (same count + same commutative
    checksum, up to md5 collision odds) and emit zero diff counts
    without ever being row-compared.

    Snapshot B is simulated deterministically from the documents table
    (the ``bucket_checksum_diff`` drift convention): docs with
    ``doc_id % 17 = 3`` exist only in B (added), ``doc_id % 23 = 5``
    only in A (removed), ``doc_id % 11 = 2`` carry a mutated source in
    B (changed). Classification: in-B-only → added, in-A-only →
    removed, both-but-content-hash-differs → changed. All outputs are
    exact integer counts; the oracle replays the identical mods and
    hashes (md5-int house convention — reproducible on both engines)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    snap_a = docs.filter(F.col("doc_id") % SNAP_ADD_MOD != SNAP_ADD_RES)
    snap_b = docs.filter(F.col("doc_id") % SNAP_DEL_MOD != SNAP_DEL_RES).withColumn(
        "source",
        F.when(
            F.col("doc_id") % SNAP_CHG_MOD == SNAP_CHG_RES,
            F.concat(F.col("source"), F.lit("-v2")),
        ).otherwise(F.col("source")),
    )
    ha, hb = _snap_hashed(snap_a), _snap_hashed(snap_b)
    return _snapshot_bucket_diff(ha, hb)


def _snap_hashed(df: DataFrame) -> DataFrame:
    """(bucket, doc_id, h) projection of a corpus snapshot — the
    commutative md5-int row hash both diff layers fold over."""
    row_str = "concat_ws('|', CAST(doc_id AS STRING), lang, source, text)"
    return df.select(
        (F.col("doc_id") % SNAP_BUCKETS).alias("bucket"),
        "doc_id",
        F.expr(md5_int_sql(row_str)).alias("h"),
    )


def _snapshot_bucket_diff(ha: DataFrame, hb: DataFrame) -> DataFrame:
    """Two-level dirty-bucket diff core over two hashed snapshots
    (shared by :func:`corpus_snapshot_diff` — simulated drift — and
    ``operators.snapshots.corpus_snapshot_diff_versions`` — two REAL
    committed catalog versions): 64-row checksum summaries first, then
    a row-level full-outer diff restricted to buckets whose summaries
    disagree."""

    def summarize(h: DataFrame, side: str) -> DataFrame:
        return h.groupBy("bucket").agg(
            F.count(F.lit(1)).alias(f"n_{side}"),
            F.sum("h").alias(f"checksum_{side}"),
        )

    sums = summarize(ha, "old").join(
        summarize(hb, "new"), "bucket", "full_outer"
    ).select(
        "bucket",
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
        F.when(
            (F.col("n_old") == F.col("n_new"))
            & (F.col("checksum_old") == F.col("checksum_new")),
            1,
        )
        .otherwise(0)
        .alias("is_match"),
    )
    dirty = sums.filter(F.col("is_match") == 0).select("bucket")
    # both snapshots descend from the SAME documents scan — re-alias the
    # right side's key columns before the full-outer join (the shared-
    # scan attribute-dedup rule, CLAUDE.md)
    a_d = ha.join(F.broadcast(dirty), "bucket", "semi")
    b_d = hb.join(F.broadcast(dirty), "bucket", "semi").select(
        F.col("bucket").alias("b_bucket"),
        F.col("doc_id").alias("b_doc_id"),
        F.col("h").alias("b_h"),
    )
    cls = (
        a_d.join(
            b_d,
            (F.col("doc_id") == F.col("b_doc_id")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("bucket"), F.col("b_bucket")).alias("bucket"),
            F.when(F.col("doc_id").isNull(), "added")
            .when(F.col("b_doc_id").isNull(), "removed")
            .when(F.col("h") != F.col("b_h"), "changed")
            .otherwise("same")
            .alias("st"),
        )
        .groupBy("bucket")
        .agg(
            F.sum((F.col("st") == "added").cast("long")).alias("n_added"),
            F.sum((F.col("st") == "removed").cast("long")).alias("n_removed"),
            F.sum((F.col("st") == "changed").cast("long")).alias("n_changed"),
        )
    )
    return (
        sums.join(cls, "bucket", "left")
        .select(
            "bucket",
            "n_old",
            "n_new",
            "is_match",
            F.coalesce("n_added", F.lit(0)).alias("n_added"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.coalesce("n_changed", F.lit(0)).alias("n_changed"),
        )
        .orderBy("bucket")
    )


ATTRIB_WINDOW_US = 3_600_000_000  # 1-hour attribution window, microseconds
ATTRIB_MODEL_WINDOW_US = 86_400_000_000  # 24-hour multi-touch window, µs


def attribution_models_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue under three marketing-attribution models at once:
    first-touch, last-touch, and linear (equal split), crediting each
    purchase's value to the day(s) of its preceding-24h clicks.

    The (purchase, click) candidate pairs come from the same bucketed-band
    join as ``attribution_window_join`` (2-bucket explode on the purchase
    side, equi-join, exact predicate — no theta join at any scale). One
    purchase-partitioned window pass then ranks clicks from both ends
    ((ts, event_id) total order kills ties) and counts them, so all three
    models fall out of a single conditional aggregate per click-day:
    first/last contribute where rank = 1, linear contributes value/n
    everywhere. Purchases with no clicks in window simply allocate
    nothing (inner-join semantics, same as the window-join operator).
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("c_ts"),
        F.col("us").alias("c_us"),
        F.col("event_id").alias("c_eid"),
        F.expr(f"us div {ATTRIB_MODEL_WINDOW_US}").alias("bucket"),
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_eid"),
            "user_id",
            F.col("us").alias("p_us"),
            F.col("value").alias("p_value"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.expr(
                    f"array(p_us div {ATTRIB_MODEL_WINDOW_US} - 1,"
                    f" p_us div {ATTRIB_MODEL_WINDOW_US})"
                )
            ),
        )
    )
    pairs = purchases.join(clicks, ["user_id", "bucket"]).filter(
        (F.col("c_us") >= F.col("p_us") - ATTRIB_MODEL_WINDOW_US)
        & (F.col("c_us") < F.col("p_us"))
    )
    w = Window.partitionBy("p_eid")
    w_first = w.orderBy("c_us", "c_eid")
    w_last = w.orderBy(F.col("c_us").desc(), F.col("c_eid").desc())
    ranked = pairs.select(
        F.to_date("c_ts").alias("day"),
        "p_value",
        F.row_number().over(w_first).alias("rk_first"),
        F.row_number().over(w_last).alias("rk_last"),
        F.count(F.lit(1)).over(w).alias("n_touch"),
    )
    return (
        ranked.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(
                F.sum(F.when(F.col("rk_first") == 1, F.col("p_value"))), 4
            ).alias("first_touch_rev"),
            F.round(
                F.sum(F.when(F.col("rk_last") == 1, F.col("p_value"))), 4
            ).alias("last_touch_rev"),
            F.round(
                F.sum(F.col("p_value") / F.col("n_touch")), 4
            ).alias("linear_rev"),
        )
        .orderBy("day")
    )


def attribution_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (band) join: for each ``purchase``, the same user's clicks
    in the preceding hour — count + attributed click value. The range-join
    shape Spark has no native operator for (a bare inequality join
    degenerates to a per-user cross product).

    Implementation is the bucketed-band algorithm — the plan that holds at
    100 TB: quantize time into window-width buckets, explode each purchase
    into the TWO buckets its window can overlap, equi-join on
    (user_id, bucket) — a plain hash join — then apply the exact interval
    predicate. Each click lives in exactly one bucket, so a (purchase,
    click) pair can only meet once: no post-join dedup. Candidate fan-out
    is bounded by events-per-user-per-hour, not events-per-user.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("us").alias("c_us"),
        F.col("value").alias("c_value"),
        F.expr(f"us div {ATTRIB_WINDOW_US}").alias("bucket"),
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("us").alias("p_us"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.expr(
                    f"array(p_us div {ATTRIB_WINDOW_US} - 1,"
                    f" p_us div {ATTRIB_WINDOW_US})"
                )
            ),
        )
    )
    return (
        purchases.join(clicks, ["user_id", "bucket"])
        .filter(
            (F.col("c_us") >= F.col("p_us") - ATTRIB_WINDOW_US)
            & (F.col("c_us") < F.col("p_us"))
        )
        .groupBy("event_id", "user_id", "purchase_ts")
        .agg(
            F.count(F.lit(1)).alias("n_clicks_1h"),
            F.round(F.sum("c_value"), 4).alias("clicked_value"),
        )
        .orderBy("event_id")
    )


def urgent_customers_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers holding at least one 1-URGENT order,
    counted per market segment. Semi keeps the probe side at one output
    row per match-existence (no fact-side fan-out to aggregate away);
    the build side reduces to distinct custkeys — SF-linear, so the
    strategy stays size-driven (AQE broadcasts it while it fits)."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


def user_ks_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user two-sample Kolmogorov–Smirnov statistic between click
    values and purchase values — the distribution-drift detector, and the
    engine's ``cogroup`` surface: both relations shuffle once on the
    entity key and arrive as two pandas frames per user
    (``groupBy().cogroup().applyInPandas``), the shape for custom
    two-sided per-group logic no single-input operator can express.

    The statistic is computed in INTEGER arithmetic (max |ca·nb − cb·na|,
    divided once at the end) so the Python result and the SQL oracle's
    window-frame form agree exactly — no float-accumulation drift. The 4dp
    rounding happens in-query via F.round (half-up, matching DuckDB) — a
    Python/pandas round would tie-break half-even and diverge on exact
    halves. Users missing either sample are dropped (inner cogroup
    semantics).
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("value").alias("p_value")
    )
    return _ks_cogroup(clicks, purchases)


def _ks_cogroup(
    clicks: DataFrame, purchases: DataFrame, n_buckets: int = 32
) -> DataFrame:
    """Cogroup core of :func:`user_ks_divergence`, split out so tests can
    drive it with literal frames (in particular the one-sided-user branch,
    which the driver testdata never exercises).

    Cogroups on a COARSE user bucket, not the raw user_id — cogrouped-map
    pays a per-group double Arrow round-trip, so ~1500 tiny frame pairs
    cost ~7s where ~32 big ones cost ~1s (same lever as the grouped-map
    z-scores). The closure loops users inside each bucket; a bucket only
    packs users together, never splits one, so per-user semantics are
    unchanged.

    The right side's user_id is re-aliased to p_user_id BEFORE the
    cogroup: when both sides descend from the same scan, user_id is the
    same Catalyst attribute on both, and cogroup dedups shared attributes
    out of the right-hand Arrow frame — the closure would receive a right
    frame without its key."""
    purchases = purchases.select(
        F.col("user_id").alias("p_user_id"), "p_value"
    )

    def ks(key, left, right):
        import numpy as np
        import pandas as pd

        cols = ["user_id", "n_clicks", "n_purchases", "ks"]
        lg = {u: g["value"] for u, g in left.groupby("user_id")}
        rg = {u: g["p_value"] for u, g in right.groupby("p_user_id")}
        out = []
        for uid in sorted(set(lg) & set(rg)):  # one-sided users drop here
            a = np.sort(lg[uid].to_numpy(dtype=float))
            b = np.sort(rg[uid].to_numpy(dtype=float))
            pts = np.concatenate([a, b])
            ca = np.searchsorted(a, pts, side="right")  # ties ≡ RANGE frame
            cb = np.searchsorted(b, pts, side="right")
            num = np.abs(ca * len(b) - cb * len(a)).max()
            out.append(
                (int(uid), len(a), len(b),
                 float(num) / (len(a) * len(b)))
            )
        if not out:
            return pd.DataFrame(columns=cols).astype(
                {"user_id": "int64", "n_clicks": "int64",
                 "n_purchases": "int64", "ks": "float64"}
            )
        return pd.DataFrame(out, columns=cols)

    l_bucket = F.pmod(F.col("user_id"), F.lit(n_buckets)).alias("bucket")
    r_bucket = F.pmod(F.col("p_user_id"), F.lit(n_buckets)).alias("bucket")
    return (
        clicks.groupBy(l_bucket)
        .cogroup(purchases.groupBy(r_bucket))
        .applyInPandas(
            ks,
            schema="user_id long, n_clicks long, n_purchases long, ks double",
        )
        .withColumn("ks", F.round("ks", 4))
        .orderBy("user_id")
    )


MAD_K = 1.4826  # normal-consistency constant
MAD_SIGMA = 3.0  # outlier cutoff in robust sigmas


def value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median / MAD (median
    absolute deviation) and the count of values beyond 3 robust sigmas
    (MAD·1.4826). Mean/stddev outlier rules break down when the outliers
    themselves inflate the stddev; median/MAD doesn't.

    Three passes (median → MAD → count), each a tiny type-keyed agg joined
    broadcast back onto the stream — exact `percentile` is the
    oracle-pinned form; at 100 TB each pass swaps to the one-scan
    `percentile_approx` t-digest with the same plan shape."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = (
        with_med.groupBy("event_type")
        .agg(
            F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
            F.first("med").alias("med"),
        )
    )
    cutoff = F.col("med") + MAD_SIGMA * MAD_K * F.col("mad")
    floor_ = F.col("med") - MAD_SIGMA * MAD_K * F.col("mad")
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.round(F.first("med"), 4).alias("median"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.sum(
                ((F.col("value") > cutoff) | (F.col("value") < floor_)).cast(
                    "long"
                )
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


TRIM_FRAC = 0.05  # two-sided trim for the robust mean


def trimmed_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust aggregation beyond MAD: per event type, the 5%-two-sided
    trimmed and winsorized means of value next to the raw mean — the
    outlier-resistant summary statistics. Exact percentile bounds are the
    oracle-pinned form (percentile_approx is the one-pass scale swap);
    the bounds relation is type-keyed and broadcasts back onto the
    stream, so the whole operator is two passes at any volume."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, {TRIM_FRAC})").alias("lo"),
        F.expr(f"percentile(value, {1 - TRIM_FRAC})").alias("hi"),
    )
    j = ev.join(F.broadcast(bounds), "event_type")
    inside = (F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi"))
    winsor = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.round(F.avg("value"), 4).alias("mean"),
            F.round(F.avg(F.when(inside, F.col("value"))), 4).alias(
                "trimmed_mean"
            ),
            F.round(F.avg(winsor), 4).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel with a step deadline: first signup, then a
    click within 24 hours of it, then a purchase within 24 hours of the click.
    Three stacked conditional window-minima over ONE user_id partitioning
    (t1 = first signup; t2 = first click in (t1, t1+24h]; t3 = first
    purchase in (t2, t2+24h]) — the Exchange is planned once and all window
    passes reuse it, so the whole funnel is a single shuffle + per-
    partition sorts, at any event volume.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    step = F.expr("INTERVAL 24 HOURS")  # max gap between funnel stages
    staged = (
        ev.withColumn(
            "t1",
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1"))
                    & (F.col("ts") <= F.col("t1") + step),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2"))
                    & (F.col("ts") <= F.col("t2") + step),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("t1").alias("t1"),
        F.first("t2").alias("t2"),
        F.first("t3").alias("t3"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_signup_click"),
        F.count("t3").alias("n_full_funnel"),
    )


def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the mode next-event predictor: fit the first-order
    Markov transition counts (`event_transitions`), predict each type's
    most likely successor (argmax count, tie → type asc), and score the
    in-sample hit rate per from-type — the sanity baseline any sequence
    model must beat, and the sequence-analytics twin of accuracy@0.5 on
    the scorer side.

    Plan: ONE user-window pass yields the (from, to) pairs; the
    transition counts and the argmax run over the |types|² relation; the
    |types|-row predictor broadcasts back onto the pair stream for
    scoring — the corpus shuffles once, everything model-sized stays
    broadcast. Integer counts + one final division, 4dp."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # persist: pairs feeds BOTH the count branch and the scoring
    # join, and window subtrees don't ReuseExchange-dedup (CLAUDE.md
    # two-consumer rule) — without the cache the corpus sort+lead runs
    # twice (construction-lazy, round 10 — was an eager checkpoint)
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .persist()
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    wp = Window.partitionBy("from_type").orderBy(F.desc("c"), "to_type")
    pred = (
        counts.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("from_type", F.col("to_type").alias("predicted_next"))
    )
    return (
        pairs.join(F.broadcast(pred), "from_type")
        .groupBy("from_type")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.min("predicted_next").alias("predicted_next"),
            F.round(
                F.avg(
                    (F.col("to_type") == F.col("predicted_next")).cast(
                        "double"
                    )
                ),
                4,
            ).alias("accuracy"),
        )
        .orderBy("from_type")
    )


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event stream:
    count and probability of event_type → next event_type. The
    sequence-model / session-intent primitive. One shuffle (user_id
    window for lead), then a (from, to) agg whose output is |types|² rows
    at any event volume; the probability window runs over that tiny
    relation. The window orders by (ts, event_id) — a total order, so
    same-timestamp events can't make the two engines pick different
    successors (CLAUDE.md tie rule)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wp = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(wp), 4
        ).alias("prob"),
    ).orderBy("from_type", "to_type")


def daily_ctr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily conversion rate (purchases per click) with a 7-day trailing
    mean — the funnel-health time series. One date-keyed conditional agg
    (counts ride one shuffle), then a RANGE frame over day numbers on the
    |days|-row result. The rate divides exact integer counts; the
    trailing mean averages the already-4dp-rounded rates so both engines
    fold identical inputs."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum((F.col("event_type") == "click").cast("long")).alias(
                "n_clicks"
            ),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias(
                "n_purchases"
            ),
        )
        .withColumn(
            # zero-click days: NULL, not ANSI DIVIDE_BY_ZERO (the oracle
            # yields NULL there too — same guard shape as twap_user_value)
            "ctr",
            F.when(
                F.col("n_clicks") > 0,
                F.round(F.col("n_purchases") / F.col("n_clicks"), 4),
            ),
        )
    )
    w = (
        Window.orderBy(F.expr("datediff(day, DATE '1970-01-01')"))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "day",
        "n_clicks",
        "n_purchases",
        "ctr",
        F.round(F.avg("ctr").over(w), 4).alias("ctr_7d"),
    ).orderBy("day")


def value_drift_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: weekly p50/p90 of event value per event
    type, plus the week-over-week p50 delta — the time-series the drift
    alert thresholds watch. Exact percentile is the oracle-pinned form
    (per-group sort); at 100 TB each week×type cell swaps to
    percentile_approx (t-digest, one pass, mergeable) with the same plan
    shape. The lag window runs over the tiny aggregated relation."""
    ev = load_table(spark, sf_dir, "events")
    weekly = (
        ev.select(
            F.to_date(F.date_trunc("week", F.col("ts"))).alias("week"),
            "event_type",
            "value",
        )
        .groupBy("week", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("week")
    return weekly.select(
        "week",
        "event_type",
        "n_events",
        "p50",
        "p90",
        # + 0.0: a tiny negative week-over-week delta can round to -0.0
        # on one engine only (CLAUDE.md negative-zero hash hazard)
        (
            F.round(F.col("p50") - F.lag("p50").over(w), 4) + F.lit(0.0)
        ).alias("p50_delta"),
    ).orderBy("week", "event_type")


PSI_SMOOTH = 1  # Laplace count added per bin (10 bins -> +10 per total)


def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution per
    week against the FIRST week's deciles — the industry-standard drift
    score (PSI < 0.1 stable, > 0.25 action) complementing the
    percentile deltas of ``value_drift_weekly`` and the per-user KS
    test.

    Plan: the reference week's 9 decile edges are ONE 1-row exact-
    percentile aggregate broadcast onto the stream; binning is a
    map-side filter-count against the edges array; per-(week, bin)
    counts are a hash agg; the PSI sum runs over the tiny weeks×10
    grid (dense — missing bins are materialized with a sequence
    cross join so Laplace smoothing sees them). At 100 TB the only
    corpus-sized work is the scan + one agg; the decile edges swap to
    percentile_approx with the same shape.

    Determinism: edges interpolate order statistics with the identical
    formula on both engines (no sums), bin membership is exact double
    comparison against identical edges, counts are ints, and the
    10-term PSI sum rounds 4dp."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("week", F.col("ts"))).alias("week"), "value"
    )
    # r13 optimization (round-10 two-consumer rule): refw, grid and
    # shared each feed 2+ downstream branches; unmaterialized, every
    # branch replanned the whole upstream chain — the committed
    # before-plan shows 31 scans of the events table for one PSI query.
    # Lazy persist() of the three TINY relations (1-row aggregate and
    # the weeks×10 grids — never the corpus-sized stream) collapses the
    # plan to the 3 data passes the algorithm needs (ref-week min,
    # ref-week deciles, binning). `edges` has exactly one consumer, so
    # persisting it would only add a barrier — left unpersisted.
    refw = ev.agg(F.min("week").alias("ref_week")).persist()
    probs = ", ".join(f"0.{i}D" for i in range(1, 10))
    edges = (
        ev.join(F.broadcast(refw), F.col("week") == F.col("ref_week"))
        .agg(F.expr(f"percentile(value, array({probs}))").alias("edges"))
    )
    binned = ev.join(F.broadcast(edges)).select(
        "week",
        F.expr("size(filter(edges, e -> value >= e))").alias("bin"),
    )
    cells = binned.groupBy("week", "bin").agg(F.count(F.lit(1)).alias("c"))
    grid = (
        cells.select("week")
        .distinct()
        .select("week", F.explode(F.expr("sequence(0, 9)")).alias("bin"))
        .join(cells, ["week", "bin"], "left")
        .select("week", "bin", F.coalesce("c", F.lit(0)).alias("c"))
        .persist()
    )
    tot = grid.groupBy("week").agg(F.sum("c").alias("n_events"))
    share = (F.col("c") + PSI_SMOOTH) / (
        F.col("n_events") + F.lit(10 * PSI_SMOOTH)
    )
    shared = (
        grid.join(tot, "week")
        .select("week", "bin", share.alias("p"))
        .persist()
    )
    ref_share = (
        shared.join(F.broadcast(refw), F.col("week") == F.col("ref_week"))
        .select("bin", F.col("p").alias("p_ref"))
    )
    psi_term = (F.col("p") - F.col("p_ref")) * F.log(
        F.col("p") / F.col("p_ref")
    )
    return (
        shared.join(F.broadcast(ref_share), "bin")
        .groupBy("week")
        .agg(F.round(F.sum(psi_term), 4).alias("psi"))
        .join(tot, "week")
        .select("week", "n_events", "psi")
        .orderBy("week")
    )


FANOUT_BUCKETS = 5  # orders-per-customer histogram bucket width


def order_fanout_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality audit: the distribution of orders per customer,
    bucketed — what you inspect BEFORE a customer⋈orders join to predict
    fan-out and spot skew (a long tail here means salting, a spike at
    zero means anti-join semantics matter). Two tiny aggs: per-key count,
    then histogram of counts."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    # integer division (div / //), NOT cast(double-divide): double→int
    # casts truncate in Spark but round in DuckDB
    bucket = F.expr(
        f"CAST((n_orders div {FANOUT_BUCKETS}) * {FANOUT_BUCKETS} AS BIGINT)"
    )
    return (
        per_cust.select(bucket.alias("orders_bucket"))
        .groupBy("orders_bucket")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("orders_bucket")
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by the ISO week of
    their first event; each cell = how many of that cohort were active
    N weeks later, plus the retention rate. The standard growth-analytics
    triangle. Plan: one user-keyed agg for first-seen, one distinct over
    (user, week) — both partial-aggregate map-side — then a broadcast of
    the tiny cohort-size relation. Week offsets are day-diffs of Monday
    week starts divided by 7: all-integer, engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    firsts = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select(
            "user_id",
            F.to_date(F.date_trunc("week", F.col("first_ts"))).alias(
                "cohort_week"
            ),
        )
    )
    cohort_sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    activity = ev.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .select(
            "cohort_week",
            F.expr("CAST(datediff(week, cohort_week) div 7 AS INT)").alias(
                "week_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 4).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


HEAVY_HITTER_K = 10


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics: the K busiest users with their share of all
    events — what you run BEFORE choosing salting/broadcast strategies
    for a user-keyed join. TakeOrderedAndProject top-K (per-partition
    heaps, no global sort); the total rides along as a 1-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    total = ev.agg(F.count(F.lit(1)).alias("total"))
    top = (
        counts.orderBy(F.desc("n_events"), "user_id")
        .limit(HEAVY_HITTER_K)
        .join(F.broadcast(total))
    )
    w = Window.orderBy(F.desc("n_events"), "user_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "user_id",
            "n_events",
            F.round(F.col("n_events") / F.col("total"), 4).alias("share"),
        )
        .orderBy("rank")
    )


def dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with NO orders after the cutoff (2001-05-01) —
    the churn-risk seed list. left_anti keeps the probe side streaming
    (no fact-side materialization); the build side is just distinct
    custkeys, which AQE turns into a broadcast at any realistic dim size."""
    cust = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2001-05-01")
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build: reconstruct a versioned customer
    dimension from the orders change log, tracking each customer's
    order-priority attribute over time.

    The batch MERGE shape the reference lacks entirely (SURVEY.md §2.4 —
    single-table app, no joins/merges): each customer gets one row per
    distinct consecutive priority value, with ``effective_from`` /
    ``effective_to`` validity bounds, a monotonically increasing
    ``version``, and an ``is_current`` flag on the open-ended row.

    Plan: collapse the change log to daily grain (max priority per
    customer-day makes intra-day ties impossible — both engines would
    otherwise pick an arbitrary row), then a single window chain
    partitioned by custkey: lag() finds change points, row_number()
    numbers versions, lead() closes each validity interval.

    The explicit ``repartition("o_custkey")`` makes the whole build ONE
    data shuffle: HashPartitioning(o_custkey) satisfies the groupBy's
    ClusteredDistribution(o_custkey, day) (subset clustering) AND the
    window's PartitionBy(o_custkey), so Catalyst inserts no further
    exchange (verified: 3 exchanges → 2, the second being the final
    presentation orderBy). The trade — losing map-side partial agg on
    (custkey, day) — is free here because orders-per-customer-day ≈ 1
    at any scale, so pre-agg wouldn't shrink the shuffle anyway.
    Window state stays O(versions per key), never O(orders per key).
    """
    w = Window.partitionBy("o_custkey").orderBy("effective_from")
    return (
        _priority_versions(spark, sf_dir)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "version",
            "priority",
            "effective_from",
            F.lead("effective_from").over(w).alias("effective_to"),
        )
        .withColumn(
            "is_current",
            F.when(F.col("effective_to").isNull(), 1).otherwise(0),
        )
        .orderBy("c_custkey", "version")
    )


def _priority_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared SCD2 core: one row per (customer, priority change point)
    with its version number — consumed by scd2_priority_history (adds
    validity bounds) and pit_priority_lookup (as-of probe target)."""
    return priority_versions_from(load_table(spark, sf_dir, "orders"))


def priority_versions_from(orders: DataFrame) -> DataFrame:
    """SCD2 change-point detection over any orders-shaped frame
    (o_custkey, o_orderdate, o_orderpriority) — split out so property
    tests can replay the semantics in plain Python."""
    daily = (
        orders.repartition("o_custkey")
        .groupBy(
            "o_custkey", F.to_date("o_orderdate").alias("effective_from")
        )
        .agg(F.max("o_orderpriority").alias("priority"))
    )
    w = Window.partitionBy("o_custkey").orderBy("effective_from")
    return (
        daily.withColumn("prev", F.lag("priority").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("priority")))
        .select(
            "o_custkey",
            "effective_from",
            "priority",
            F.row_number().over(w).alias("version"),
        )
    )


def pit_priority_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: each order joined to the SCD2
    priority version effective AT its order date — the temporal join
    every versioned warehouse needs (fact rows must see the dimension
    as it was, not as it is).

    Implementation is the same union-marker as-of merge as
    asof_click_purchase (the plan that survives 100 TB): version-change
    rows (kind 0) and order probes (kind 1) union, ONE shuffle on
    custkey, and a running last(ignorenulls) carries the in-effect
    (priority, version) forward onto each order. Sorting (day, kind)
    makes a same-day change visible to that day's orders — identical
    inclusivity to DuckDB's ``ASOF JOIN ON day >= effective_from``,
    which the oracle uses natively so the two engines cross-check
    different algorithms for the same semantics. No probe can miss:
    every customer's first change point IS their first order day.
    """
    ver = _priority_versions(spark, sf_dir).select(
        F.col("o_custkey").alias("custkey"),
        F.col("effective_from").alias("day"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("o_orderkey"),
        "priority",
        "version",
    )
    probes = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.to_date("o_orderdate").alias("day"),
        F.lit(1).alias("kind"),
        "o_orderkey",
        F.lit(None).cast("string").alias("priority"),
        F.lit(None).cast("int").alias("version"),
    )
    w = (
        Window.partitionBy("custkey")
        .orderBy("day", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ver.unionByName(probes)
        .withColumn(
            "pit_priority", F.last("priority", ignorenulls=True).over(w)
        )
        .withColumn(
            "pit_version", F.last("version", ignorenulls=True).over(w)
        )
        .filter(F.col("kind") == 1)
        .select(
            "o_orderkey",
            F.col("custkey").alias("c_custkey"),
            F.col("day").alias("order_day"),
            "pit_priority",
            "pit_version",
        )
        .orderBy("o_orderkey")
    )


SES_ALPHA = 0.3  # exponential-smoothing weight for new observations


def ses_user_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential smoothing (SES) of daily mean event value —
    the ordered-fold / stateful-scan shape: s_t = α·x_t + (1-α)·s_{t-1},
    which NO window frame can express (each output depends recursively
    on the previous output, not on a frame of inputs).

    Spark side: sort_array(collect_list(struct(day, v))) builds each
    user's ordered series inside one hash agg, then ``aggregate()``
    folds it map-side — per-user state lives in an array in the agg
    buffer, no shuffle beyond the one groupBy. DuckDB oracle folds the
    same series with ``list_reduce`` (its no-init form seeds from the
    first element — exactly this init). Both engines fold IDENTICAL
    4dp-rounded daily inputs through the identical expression tree, so
    the IEEE double chains agree bit-for-bit.

    At 100 TB: per-user series must fit an agg buffer (fine for
    entity×day grains); for unbounded streams the same fold is
    applyInPandasWithState / flatMapGroupsWithState — see
    streaming/stateful.py for that form.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.round(F.avg("value"), 4).alias("v"))
    series = daily.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("day", "v"))).alias("s"),
        F.count(F.lit(1)).alias("n_days"),
    )
    fold = (
        "round(aggregate(slice(transform(s, x -> x.v), 2, size(s) - 1), "
        f"CAST(s[0].v AS DOUBLE), "
        f"(acc, x) -> CAST({SES_ALPHA} AS DOUBLE) * x "
        f"+ CAST({1 - SES_ALPHA} AS DOUBLE) * acc), 4)"
    )
    return series.select(
        "user_id",
        "n_days",
        F.expr("element_at(s, -1).v").alias("last_value"),
        F.expr(fold).alias("ses_forecast"),
    ).orderBy("user_id")


CDC_CUTOFF = "2024-01-16"  # events span 2024-01-01..30; mid-stream split


def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply / MERGE INTO: reconcile a keyed snapshot with a change
    batch under latest-wins semantics, with tombstones.

    The events stream is split at ``CDC_CUTOFF``: everything before is
    the snapshot's change history (last event per user = current state;
    a trailing ``error`` means the user was already deleted), everything
    at/after is the incoming batch. Applying the batch:

    - user only in snapshot            → ``unchanged``, state kept
    - batch's last event is ``error``  → ``deleted`` if the user existed
      (tombstone wins; state nulled), dropped if it never existed
    - otherwise                        → ``updated`` if the user existed,
      ``inserted`` if not — state from the batch's last event

    Latest-wins needs a TOTAL order or the two engines could pick
    different "last" rows: ties on ts are broken by event_id (CLAUDE.md
    tie rule). Plan: one scan, filter-split into two branches, each
    collapsed to one row per user by the same (ts, event_id) desc
    row_number window, then a full-outer join on user_id. Both branches
    hash-shuffle on user_id once; the join reuses that clustering. At
    100 TB the snapshot side is normally a compacted table, not a
    window over history — the merge itself (full outer + CASE) is
    unchanged, which is the shape Delta/Iceberg MERGE executes."""
    return cdc_merge_events(load_table(spark, sf_dir, "events"), CDC_CUTOFF)


def cdc_merge_events(ev: DataFrame, cutoff) -> DataFrame:
    """cdc_apply's core over any events-shaped frame (user_id, event_id,
    ts, event_type, value) — split out so property tests can replay the
    same semantics in plain Python on generated inputs."""

    def latest(df: DataFrame, prefix: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_type").alias(f"{prefix}_type"),
                F.col("value").alias(f"{prefix}_value"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
        )

    snap = latest(ev.filter(F.col("ts") < cutoff), "snap").filter(
        F.col("snap_type") != "error"  # trailing tombstone = not in snapshot
    )
    batch = latest(ev.filter(F.col("ts") >= cutoff), "batch")
    merged = snap.join(batch, "user_id", "full_outer")
    in_snap = F.col("snap_type").isNotNull()
    in_batch = F.col("batch_type").isNotNull()
    tombstone = in_batch & (F.col("batch_type") == "error")
    action = (
        F.when(~in_batch, F.lit("unchanged"))
        .when(tombstone & in_snap, F.lit("deleted"))
        .when(tombstone, F.lit(None).cast("string"))  # delete of absent key
        .when(in_snap, F.lit("updated"))
        .otherwise(F.lit("inserted"))
    )
    keep_batch = in_batch & ~tombstone
    return (
        merged.withColumn("cdc_action", action)
        .filter(F.col("cdc_action").isNotNull())
        .select(
            "user_id",
            "cdc_action",
            F.when(F.col("cdc_action") == "deleted", F.lit(None).cast("string"))
            .when(keep_batch, F.col("batch_type"))
            .otherwise(F.col("snap_type"))
            .alias("last_type"),
            F.round(
                F.when(
                    F.col("cdc_action") == "deleted",
                    F.lit(None).cast("double"),
                )
                .when(keep_batch, F.col("batch_value"))
                .otherwise(F.col("snap_value")),
                4,
            ).alias("last_value"),
            F.when(F.col("cdc_action") == "deleted", F.lit(None).cast("timestamp"))
            .when(keep_batch, F.col("batch_ts"))
            .otherwise(F.col("snap_ts"))
            .alias("last_ts"),
        )
        .orderBy("user_id")
    )


def events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the events table — one row per column with
    null count, distinct count, min/max (stringified for the mixed-type
    long format).

    Plan: one PRUNED branch per column (group-by-value pre-agg, then a
    1-row summary), unioned. Measured 2.5-3× faster at sf0.1 than the
    single-scan multi-countDistinct form: Catalyst plans N distinct aggs
    as an Expand that multiplies every row ×(N+1) before the partial agg,
    while the per-column branches each scan ONE parquet column (total
    bytes read identical to one full scan — columnar pruning) and
    shuffle only their own distinct values. The single-pass form wins
    only on row-oriented or high-latency sources, which this engine's
    parquet layout is not."""
    ev = load_table(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value"]

    def mm(c: str, agg):
        # doubles stringify via DECIMAL — Spark flips to scientific notation
        # for |x|<1e-3 / >=1e7 where DuckDB doesn't; DECIMAL renders plain
        # digits in both engines
        if c == "value":
            return agg.cast("decimal(18,4)").cast("string")
        return agg.cast("string")

    parts = []
    for c in cols:
        per = ev.select(c).groupBy(c).agg(F.count(F.lit(1)).alias("cnt"))
        parts.append(
            per.agg(
                F.lit(c).alias("column_name"),
                F.sum(
                    F.when(F.col(c).isNull(), F.col("cnt")).otherwise(0)
                ).alias("n_nulls"),
                # distinct = non-null group keys (countDistinct semantics)
                F.count(c).alias("n_distinct"),
                mm(c, F.min(c)).alias("min_str"),
                mm(c, F.max(c)).alias("max_str"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


def documents_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the documents table — the events_profile
    shape (one pruned per-column branch, unioned) applied to the corpus
    table. The free-text column is profiled through ``md5(text)`` rather
    than raw min/max: Spark compares strings by UTF-16 code unit while
    DuckDB compares UTF-8 bytes, so lexicographic extremes of CJK text
    are not engine-stable — the digest's hex alphabet is."""
    docs = load_table(spark, sf_dir, "documents")
    specs = [
        ("doc_id", F.col("doc_id")),
        ("text_md5", F.md5(F.col("text"))),
        ("lang", F.col("lang")),
        ("source", F.col("source")),
        ("n_chars", F.col("n_chars")),
    ]
    parts = []
    for name, expr in specs:
        per = (
            docs.select(expr.alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        parts.append(
            per.agg(
                F.lit(name).alias("column_name"),
                F.sum(
                    F.when(F.col("v").isNull(), F.col("cnt")).otherwise(0)
                ).alias("n_nulls"),
                F.sum((~F.col("v").isNull()).cast("long")).alias(
                    "n_distinct"
                ),
                F.min("v").cast("string").alias("min_str"),
                F.max("v").cast("string").alias("max_str"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


def _duck_profile_sql() -> str:
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    def mm(c: str, fn: str) -> str:
        if c == "ts":  # TIMESTAMP_NS → µs first, matching Spark's read
            return f"CAST(CAST({fn}({c}) AS TIMESTAMP) AS VARCHAR)"
        if c == "value":  # doubles stringify via DECIMAL: engines disagree
            # on scientific-notation thresholds for raw double rendering
            return f"CAST(CAST({fn}({c}) AS DECIMAL(18, 4)) AS VARCHAR)"
        return f"CAST({fn}({c}) AS VARCHAR)"

    arms = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name,"
        # CAST: DuckDB sum(int) returns HUGEINT, which pandas/arrow fetch
        # renders as decimal/float — must come back as BIGINT to hash like
        # Spark's long (CLAUDE.md cross-engine rules)
        f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,"
        f" count(DISTINCT {c}) AS n_distinct,"
        f" {mm(c, 'min')} AS min_str,"
        f" {mm(c, 'max')} AS max_str FROM events"
        for c in cols
    )
    return f"{arms}\nORDER BY column_name"


ORACLE: dict[str, str] = {
    "scd2_priority_history": """
WITH daily AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS effective_from,
    max(o_orderpriority) AS priority
  FROM orders GROUP BY 1, 2
),
changes AS (
  SELECT o_custkey, effective_from, priority,
    lag(priority) OVER (PARTITION BY o_custkey ORDER BY effective_from)
      AS prev
  FROM daily
)
SELECT o_custkey AS c_custkey,
  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY effective_from)
    AS INT) AS version,
  priority,
  effective_from,
  lead(effective_from) OVER (PARTITION BY o_custkey ORDER BY effective_from)
    AS effective_to,
  CASE WHEN lead(effective_from)
      OVER (PARTITION BY o_custkey ORDER BY effective_from) IS NULL
    THEN 1 ELSE 0 END AS is_current
FROM changes
WHERE prev IS NULL OR prev <> priority
ORDER BY c_custkey, version
""",
    "pit_priority_lookup": """
WITH daily AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS effective_from,
    max(o_orderpriority) AS priority
  FROM orders GROUP BY 1, 2
),
changes AS (
  SELECT o_custkey, effective_from, priority,
    lag(priority) OVER (PARTITION BY o_custkey ORDER BY effective_from)
      AS prev
  FROM daily
),
versions AS (
  SELECT o_custkey AS custkey, effective_from, priority,
    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY effective_from)
      AS INT) AS version
  FROM changes
  WHERE prev IS NULL OR prev <> priority
)
SELECT o.o_orderkey, o.o_custkey AS c_custkey,
  CAST(o.o_orderdate AS DATE) AS order_day,
  v.priority AS pit_priority, v.version AS pit_version
FROM orders o
ASOF JOIN versions v
  ON o.o_custkey = v.custkey
  AND CAST(o.o_orderdate AS DATE) >= v.effective_from
ORDER BY o_orderkey
""",
    "ses_user_forecast": f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, round(avg(value), 4) AS v
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT user_id, list(v ORDER BY day) AS s, count(*) AS n_days
  FROM daily GROUP BY user_id
)
SELECT user_id, n_days, s[-1] AS last_value,
  round(list_reduce(s, (acc, x) -> CAST({SES_ALPHA} AS DOUBLE) * x
    + CAST({1 - SES_ALPHA} AS DOUBLE) * acc), 4) AS ses_forecast
FROM series
ORDER BY user_id
""",
    "cdc_apply": f"""
WITH snap0 AS (
  SELECT user_id, event_type AS snap_type, value AS snap_value, ts AS snap_ts,
    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
      AS rn
  FROM events WHERE ts < TIMESTAMP '{CDC_CUTOFF} 00:00:00'
),
snap AS (SELECT * FROM snap0 WHERE rn = 1 AND snap_type <> 'error'),
batch0 AS (
  SELECT user_id, event_type AS batch_type, value AS batch_value, ts AS batch_ts,
    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
      AS rn
  FROM events WHERE ts >= TIMESTAMP '{CDC_CUTOFF} 00:00:00'
),
batch AS (SELECT * FROM batch0 WHERE rn = 1),
merged AS (
  SELECT coalesce(s.user_id, b.user_id) AS user_id,
    s.snap_type, s.snap_value, s.snap_ts,
    b.batch_type, b.batch_value, b.batch_ts,
    CASE WHEN b.batch_type IS NULL THEN 'unchanged'
         WHEN b.batch_type = 'error' AND s.snap_type IS NOT NULL
           THEN 'deleted'
         WHEN b.batch_type = 'error' THEN NULL
         WHEN s.snap_type IS NOT NULL THEN 'updated'
         ELSE 'inserted' END AS cdc_action,
    (b.batch_type IS NOT NULL AND b.batch_type <> 'error') AS keep_batch
  FROM snap s FULL OUTER JOIN batch b ON s.user_id = b.user_id
)
SELECT user_id, cdc_action,
  CASE WHEN cdc_action = 'deleted' THEN NULL
       WHEN keep_batch THEN batch_type ELSE snap_type END AS last_type,
  round(CASE WHEN cdc_action = 'deleted' THEN NULL
       WHEN keep_batch THEN batch_value ELSE snap_value END, 4) AS last_value,
  CASE WHEN cdc_action = 'deleted' THEN NULL
       WHEN keep_batch THEN batch_ts ELSE snap_ts END AS last_ts
FROM merged
WHERE cdc_action IS NOT NULL
ORDER BY user_id
""",
    "dormant_customers": """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '2001-05-01 00:00:00'
)
ORDER BY c_custkey
""",
    "daily_ctr": """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
  FROM events GROUP BY 1
),
rated AS (
  SELECT day, n_clicks, n_purchases,
    CASE WHEN n_clicks > 0
         THEN round(n_purchases / n_clicks, 4) END AS ctr
  FROM daily
)
SELECT day, n_clicks, n_purchases, ctr,
  round(avg(ctr) OVER (ORDER BY date_diff('day', DATE '1970-01-01', day)
    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ctr_7d
FROM rated
ORDER BY day
""",
    "markov_next_event_accuracy": """
WITH pairs AS (
  SELECT event_type AS from_type,
    lead(event_type) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
p AS (SELECT from_type, to_type FROM pairs WHERE to_type IS NOT NULL),
counts AS (
  SELECT from_type, to_type, count(*) AS c FROM p GROUP BY from_type, to_type
),
pred AS (
  SELECT from_type, to_type AS predicted_next FROM (
    SELECT from_type, to_type,
      row_number() OVER (
        PARTITION BY from_type ORDER BY c DESC, to_type) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT p.from_type, count(*) AS n_transitions,
  min(pred.predicted_next) AS predicted_next,
  round(avg(CASE WHEN p.to_type = pred.predicted_next
            THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 4)
    AS accuracy
FROM p JOIN pred ON pred.from_type = p.from_type
GROUP BY p.from_type
ORDER BY p.from_type
""",
    "psi_value_drift": """
WITH ev AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, value FROM events
),
refw AS (SELECT min(week) AS ref_week FROM ev),
edges AS (
  SELECT quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
  FROM ev, refw WHERE ev.week = refw.ref_week
),
binned AS (
  SELECT week, len(list_filter(edges.edges, e -> value >= e)) AS bin
  FROM ev, edges
),
cells AS (SELECT week, bin, count(*) AS c FROM binned GROUP BY week, bin),
grid AS (
  SELECT w.week, b.bin, COALESCE(c.c, 0) AS c
  FROM (SELECT DISTINCT week FROM cells) w
  CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b
  LEFT JOIN cells c ON c.week = w.week AND c.bin = b.bin
),
tot AS (SELECT week, CAST(sum(c) AS BIGINT) AS n_events FROM grid GROUP BY week),
shared AS (
  SELECT g.week, g.bin, (g.c + 1) / CAST(t.n_events + 10 AS DOUBLE) AS p
  FROM grid g JOIN tot t ON t.week = g.week
),
ref_share AS (
  SELECT s.bin, s.p AS p_ref FROM shared s, refw WHERE s.week = refw.ref_week
)
SELECT s.week, t.n_events,
  round(sum((s.p - r.p_ref) * ln(s.p / r.p_ref)), 4) AS psi
FROM shared s
JOIN ref_share r ON r.bin = s.bin
JOIN tot t ON t.week = s.week
GROUP BY s.week, t.n_events
ORDER BY s.week
""",
    "value_drift_weekly": """
WITH weekly AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
    count(*) AS n_events,
    round(quantile_cont(value, 0.5), 4) AS p50,
    round(quantile_cont(value, 0.9), 4) AS p90
  FROM events
  GROUP BY 1, 2
)
SELECT week, event_type, n_events, p50, p90,
  round(p50 - lag(p50) OVER (PARTITION BY event_type ORDER BY week), 4)
    + 0.0 AS p50_delta
FROM weekly
ORDER BY week, event_type
""",
    "order_fanout_histogram": f"""
WITH per AS (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
)
SELECT CAST((n_orders // {FANOUT_BUCKETS}) * {FANOUT_BUCKETS} AS BIGINT)
    AS orders_bucket,
  count(*) AS n_customers
FROM per
GROUP BY 1
ORDER BY orders_bucket
""",
    "cohort_retention": """
WITH firsts AS (
  SELECT user_id,
    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, count(*) AS cohort_size FROM firsts GROUP BY cohort_week
),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
),
cells AS (
  SELECT f.cohort_week,
    CAST(date_diff('day', f.cohort_week, a.week) // 7 AS INT) AS week_offset,
    count(*) AS n_active
  FROM activity a JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
  round(c.n_active / s.cohort_size, 4) AS retention
FROM cells c JOIN sizes s USING (cohort_week)
ORDER BY cohort_week, week_offset
""",
    "heavy_hitters": f"""
WITH counts AS (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
),
total AS (SELECT count(*) AS total FROM events),
top AS (
  SELECT user_id, n_events,
    row_number() OVER (ORDER BY n_events DESC, user_id) AS rank
  FROM counts
)
SELECT rank, user_id, n_events,
  round(n_events / total.total, 4) AS share
FROM top CROSS JOIN total
WHERE rank <= {HEAVY_HITTER_K}
ORDER BY rank
""",
    "event_transitions": """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
pairs AS (
  SELECT from_type, to_type, count(*) AS n_transitions
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_transitions,
  round(n_transitions / sum(n_transitions) OVER (PARTITION BY from_type), 4) AS prob
FROM pairs
ORDER BY from_type, to_type
""",
    "events_profile": _duck_profile_sql(),
    "user_value_zscores": """
SELECT user_id, event_id,
  round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4) + 0.0
    AS v_norm
FROM events
WINDOW w AS (PARTITION BY user_id)
QUALIFY stddev_samp(value) OVER w > 0
ORDER BY user_id, event_id
""",
    "value_percentiles": """
SELECT event_type,
  round(quantile_cont(value, 0.5), 4) AS p50,
  round(quantile_cont(value, 0.9), 4) AS p90,
  round(quantile_cont(value, 0.99), 4) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    "event_type_hour_cube": """
SELECT event_type, hour(ts) AS hour_of_day,
  count(*) AS n_events,
  round(sum(value), 4) AS sum_value
FROM events
GROUP BY CUBE (event_type, hour(ts))
ORDER BY event_type NULLS FIRST, hour_of_day NULLS FIRST
""",
    "value_outliers_mad": f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type,
    quantile_cont(abs(e.value - m.med), 0.5) AS mad,
    any_value(m.med) AS med
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type,
  count(*) AS n_values,
  round(any_value(m.med), 4) AS median,
  round(any_value(m.mad), 4) AS mad,
  CAST(sum(CAST(e.value > m.med + {MAD_SIGMA} * {MAD_K} * m.mad
        OR e.value < m.med - {MAD_SIGMA} * {MAD_K} * m.mad AS BIGINT))
    AS BIGINT) AS n_outliers
FROM events e JOIN mad m USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
""",
    "trimmed_value_stats": f"""
WITH bounds AS (
  SELECT event_type,
    quantile_cont(value, {TRIM_FRAC}) AS lo,
    quantile_cont(value, {1 - TRIM_FRAC}) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
  count(*) AS n_values,
  round(avg(e.value), 4) AS mean,
  round(avg(CASE WHEN e.value >= b.lo AND e.value <= b.hi
                 THEN e.value END), 4) AS trimmed_mean,
  round(avg(least(greatest(e.value, b.lo), b.hi)), 4) AS winsorized_mean
FROM events e JOIN bounds b USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
""",
    "event_funnel": """
WITH s1 AS (
  SELECT user_id, ts, event_type,
    min(CASE WHEN event_type = 'signup' THEN ts END)
      OVER (PARTITION BY user_id) AS t1
  FROM events
),
s2 AS (
  SELECT user_id, ts, event_type, t1,
    min(CASE WHEN event_type = 'click' AND ts > t1
              AND ts <= t1 + INTERVAL 24 HOURS THEN ts END)
      OVER (PARTITION BY user_id) AS t2
  FROM s1
),
s3 AS (
  SELECT user_id, t1, t2,
    min(CASE WHEN event_type = 'purchase' AND ts > t2
              AND ts <= t2 + INTERVAL 24 HOURS THEN ts END)
      OVER (PARTITION BY user_id) AS t3
  FROM s2
),
per_user AS (
  SELECT user_id, any_value(t1) AS t1, any_value(t2) AS t2,
    any_value(t3) AS t3
  FROM s3 GROUP BY user_id
)
SELECT count(*) AS n_users,
  count(t1) AS n_signup,
  count(t2) AS n_signup_click,
  count(t3) AS n_full_funnel
FROM per_user
""",
    "user_ks_divergence": """
WITH e AS (
  SELECT user_id, CAST(value AS DOUBLE) AS x FROM events
  WHERE event_type = 'click'
),
o AS (
  SELECT user_id, CAST(value AS DOUBLE) AS x FROM events
  WHERE event_type = 'purchase'
),
ne AS (SELECT user_id, count(*) AS n FROM e GROUP BY user_id),
no AS (SELECT user_id, count(*) AS n FROM o GROUP BY user_id),
pts AS (
  SELECT user_id, x, 1 AS is_e, 0 AS is_o FROM e
  UNION ALL
  SELECT user_id, x, 0, 1 FROM o
),
c AS (
  SELECT user_id, x,
    sum(is_e) OVER (PARTITION BY user_id ORDER BY x
      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce,
    sum(is_o) OVER (PARTITION BY user_id ORDER BY x
      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS co
  FROM pts
)
SELECT c.user_id,
  ne.n AS n_clicks,
  no.n AS n_purchases,
  round(CAST(max(abs(c.ce * no.n - c.co * ne.n)) AS DOUBLE) / (ne.n * no.n), 4)
    AS ks
FROM c
JOIN ne ON c.user_id = ne.user_id
JOIN no ON c.user_id = no.user_id
GROUP BY c.user_id, ne.n, no.n
ORDER BY c.user_id
""",
    "table_checksums": f"""
SELECT * FROM (
  SELECT 'customer' AS table_name, count(*) AS n_rows,
    CAST(sum({duck_md5_int("concat_ws('|', CAST(c_custkey AS VARCHAR), c_name, c_mktsegment)")}) AS BIGINT)
      AS checksum
  FROM customer
  UNION ALL
  SELECT 'orders', count(*),
    CAST(sum({duck_md5_int("concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus, o_orderpriority)")}) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'documents', count(*),
    CAST(sum({duck_md5_int("concat_ws('|', CAST(doc_id AS VARCHAR), lang, source)")}) AS BIGINT)
  FROM documents
)
ORDER BY table_name
""",
    "attribution_models_daily": """
WITH pairs AS (
  SELECT p.event_id AS p_eid, p.value AS p_value,
    CAST(c.ts AS DATE) AS day,
    epoch_us(c.ts) AS c_us, c.event_id AS c_eid
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id
   AND c.ts >= p.ts - INTERVAL 24 HOUR
   AND c.ts < p.ts
),
ranked AS (
  SELECT day, p_value,
    row_number() OVER (PARTITION BY p_eid ORDER BY c_us, c_eid) AS rk_first,
    row_number() OVER (PARTITION BY p_eid ORDER BY c_us DESC, c_eid DESC)
      AS rk_last,
    count(*) OVER (PARTITION BY p_eid) AS n_touch
  FROM pairs
)
SELECT day, count(*) AS n_touches,
  round(sum(CASE WHEN rk_first = 1 THEN p_value END), 4) AS first_touch_rev,
  round(sum(CASE WHEN rk_last = 1 THEN p_value END), 4) AS last_touch_rev,
  round(sum(p_value / n_touch), 4) AS linear_rev
FROM ranked
GROUP BY day
ORDER BY day
""",
    "attribution_window_join": """
SELECT p.event_id, p.user_id,
  p.ts AS purchase_ts,
  count(*) AS n_clicks_1h,
  round(sum(c.value), 4) AS clicked_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts < p.ts
GROUP BY p.event_id, p.user_id, p.ts
ORDER BY p.event_id
""",
    "urgent_customers_by_segment": """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    "asof_click_purchase": """
SELECT e.event_id, e.user_id,
  e.ts AS click_ts,
  p.ts AS last_purchase_ts,
  round(p.value, 4) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') e
ASOF JOIN (
  SELECT user_id, ts, max(value) AS value FROM events
  WHERE event_type = 'purchase' GROUP BY user_id, ts
) p
  ON e.user_id = p.user_id AND e.ts >= p.ts
ORDER BY e.event_id
""",
    "documents_profile": """
SELECT 'doc_id' AS column_name,
  CAST(sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_nulls,
  CAST(sum(CASE WHEN v IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_distinct,
  CAST(min(v) AS VARCHAR) AS min_str,
  CAST(max(v) AS VARCHAR) AS max_str
FROM (SELECT doc_id AS v, count(*) AS cnt FROM documents GROUP BY 1)
UNION ALL

SELECT 'text_md5' AS column_name,
  CAST(sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_nulls,
  CAST(sum(CASE WHEN v IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_distinct,
  CAST(min(v) AS VARCHAR) AS min_str,
  CAST(max(v) AS VARCHAR) AS max_str
FROM (SELECT md5(text) AS v, count(*) AS cnt FROM documents GROUP BY 1)
UNION ALL

SELECT 'lang' AS column_name,
  CAST(sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_nulls,
  CAST(sum(CASE WHEN v IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_distinct,
  CAST(min(v) AS VARCHAR) AS min_str,
  CAST(max(v) AS VARCHAR) AS max_str
FROM (SELECT lang AS v, count(*) AS cnt FROM documents GROUP BY 1)
UNION ALL

SELECT 'source' AS column_name,
  CAST(sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_nulls,
  CAST(sum(CASE WHEN v IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_distinct,
  CAST(min(v) AS VARCHAR) AS min_str,
  CAST(max(v) AS VARCHAR) AS max_str
FROM (SELECT source AS v, count(*) AS cnt FROM documents GROUP BY 1)
UNION ALL

SELECT 'n_chars' AS column_name,
  CAST(sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_nulls,
  CAST(sum(CASE WHEN v IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_distinct,
  CAST(min(v) AS VARCHAR) AS min_str,
  CAST(max(v) AS VARCHAR) AS max_str
FROM (SELECT n_chars AS v, count(*) AS cnt FROM documents GROUP BY 1)
ORDER BY column_name
""",
    "bucket_checksum_diff": f"""
WITH a AS (
  SELECT o_custkey % {DIFF_BUCKETS} AS bucket, count(*) AS n_a,
    CAST(sum({duck_md5_int("concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus, o_orderpriority)")}) AS BIGINT) AS checksum_a
  FROM orders GROUP BY 1
),
b AS (
  SELECT o_custkey % {DIFF_BUCKETS} AS bucket, count(*) AS n_b,
    CAST(sum({duck_md5_int("concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus, CASE WHEN o_orderkey % " + str(DRIFT_MOD) + " = 7 THEN '9-DRIFTED' ELSE o_orderpriority END)")}) AS BIGINT) AS checksum_b
  FROM orders GROUP BY 1
)
SELECT coalesce(a.bucket, b.bucket) AS bucket, n_a, n_b,
  CASE WHEN n_a = n_b AND checksum_a = checksum_b THEN 1 ELSE 0 END
    AS is_match
FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
ORDER BY bucket
""",
    "corpus_snapshot_diff": f"""
WITH ha AS (
  SELECT doc_id % {SNAP_BUCKETS} AS bucket, doc_id,
    {duck_md5_int("concat_ws('|', CAST(doc_id AS VARCHAR), lang, source, text)")} AS h
  FROM documents WHERE doc_id % {SNAP_ADD_MOD} <> {SNAP_ADD_RES}
),
hb AS (
  SELECT doc_id % {SNAP_BUCKETS} AS bucket, doc_id,
    {duck_md5_int("concat_ws('|', CAST(doc_id AS VARCHAR), lang, CASE WHEN doc_id % " + str(SNAP_CHG_MOD) + " = " + str(SNAP_CHG_RES) + " THEN source || '-v2' ELSE source END, text)")} AS h
  FROM documents WHERE doc_id % {SNAP_DEL_MOD} <> {SNAP_DEL_RES}
),
snap_sa AS (
  SELECT bucket, count(*) AS n_old, CAST(sum(h) AS BIGINT) AS ck
  FROM ha GROUP BY 1
),
snap_sb AS (
  SELECT bucket, count(*) AS n_new, CAST(sum(h) AS BIGINT) AS ck
  FROM hb GROUP BY 1
),
snap_sums AS (
  SELECT coalesce(snap_sa.bucket, snap_sb.bucket) AS bucket,
    coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new,
    CASE WHEN n_old = n_new AND snap_sa.ck = snap_sb.ck THEN 1 ELSE 0 END
      AS is_match
  FROM snap_sa FULL OUTER JOIN snap_sb ON snap_sa.bucket = snap_sb.bucket
),
snap_dirty AS (SELECT bucket FROM snap_sums WHERE is_match = 0),
snap_cls AS (
  SELECT coalesce(a.bucket, b.bucket) AS bucket,
    CASE WHEN a.doc_id IS NULL THEN 'added'
         WHEN b.doc_id IS NULL THEN 'removed'
         WHEN a.h <> b.h THEN 'changed' ELSE 'same' END AS st
  FROM (SELECT * FROM ha WHERE bucket IN (SELECT bucket FROM snap_dirty)) a
  FULL OUTER JOIN
       (SELECT * FROM hb WHERE bucket IN (SELECT bucket FROM snap_dirty)) b
    ON a.doc_id = b.doc_id
),
snap_cnt AS (
  SELECT bucket,
    CAST(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_added,
    CAST(sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_removed,
    CAST(sum(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_changed
  FROM snap_cls GROUP BY 1
)
SELECT s.bucket, s.n_old, s.n_new, s.is_match,
  coalesce(n_added, CAST(0 AS BIGINT)) AS n_added,
  coalesce(n_removed, CAST(0 AS BIGINT)) AS n_removed,
  coalesce(n_changed, CAST(0 AS BIGINT)) AS n_changed
FROM snap_sums s LEFT JOIN snap_cnt c ON s.bucket = c.bucket
ORDER BY s.bucket
""",
    "daily_anomalies": f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2
),
graded AS (
  SELECT day, event_type, n_events, dayofweek(day) AS dow FROM daily
),
base AS (
  SELECT event_type, dow, avg(n_events) AS mu,
    stddev_samp(n_events) AS sigma
  FROM graded GROUP BY 1, 2
)
SELECT g.day, g.event_type AS event_type, g.n_events,
  round(b.mu, 4) AS expected,
  round((g.n_events - round(b.mu, 4)) / round(b.sigma, 4), 4) AS z_score
FROM graded g JOIN base b
  ON g.event_type = b.event_type AND g.dow = b.dow
WHERE round(b.sigma, 4) > 0
  AND abs(round((g.n_events - round(b.mu, 4)) / round(b.sigma, 4), 4))
      >= {ANOMALY_Z}
ORDER BY g.day, g.event_type
""",
    "dau_wau_stickiness": """
WITH days AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
bounds AS (SELECT max(day) AS max_day FROM days),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM days GROUP BY day),
exploded AS (
  SELECT DISTINCT d.user_id, d.day + CAST(o.i AS INT) AS day
  FROM days d
  CROSS JOIN bounds b
  CROSS JOIN generate_series(0, 6) o(i)
  WHERE d.day + CAST(o.i AS INT) <= b.max_day
),
wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM exploded GROUP BY day)
SELECT dau.day, dau.dau, wau.wau,
  round(dau.dau / CAST(wau.wau AS DOUBLE), 4) AS stickiness
FROM dau JOIN wau ON dau.day = wau.day
ORDER BY dau.day
""",
    "conversion_time_percentiles": """
WITH gaps AS (
  SELECT e.user_id % 2 AS variant,
    epoch_us(p.ts) - epoch_us(e.ts) AS gap_us
  FROM (SELECT * FROM events WHERE event_type = 'click') e
  ASOF JOIN (
    SELECT user_id, ts, max(value) AS value FROM events
    WHERE event_type = 'purchase' GROUP BY user_id, ts
  ) p
    ON e.user_id = p.user_id AND e.ts <= p.ts
)
SELECT variant, count(*) AS n_conversions,
  round(quantile_cont(gap_us, 0.5) / 1000000.0, 4) AS p50_s,
  round(quantile_cont(gap_us, 0.9) / 1000000.0, 4) AS p90_s,
  round(quantile_cont(gap_us, 0.99) / 1000000.0, 4) AS p99_s
FROM gaps
GROUP BY variant
ORDER BY variant
""",
    "dow_seasonality": """
WITH grid AS (
  SELECT event_type, dayofweek(ts) + 1 AS dow,
    count(*) AS n_events,
    round(avg(value), 4) AS avg_value
  FROM events
  GROUP BY 1, 2
)
SELECT event_type, CAST(dow AS INT) AS dow, n_events,
  round(n_events / CAST(sum(n_events) OVER (PARTITION BY event_type)
    AS DOUBLE), 4) AS volume_share,
  avg_value
FROM grid
ORDER BY event_type, dow
""",
    "asof_next_purchase": """
SELECT e.event_id, e.user_id,
  e.ts AS click_ts,
  p.ts AS next_purchase_ts,
  round(p.value, 4) AS purchase_value,
  epoch_us(p.ts) - epoch_us(e.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'click') e
ASOF JOIN (
  SELECT user_id, ts, max(value) AS value FROM events
  WHERE event_type = 'purchase' GROUP BY user_id, ts
) p
  ON e.user_id = p.user_id AND e.ts <= p.ts
ORDER BY e.event_id
""",
    "revenue_rollup": """
SELECT r_name, n_name,
  round(sum(o_totalprice), 4) AS revenue,
  count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
""",
    "customer_year_sets": """
WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
     y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT
  (SELECT count(*) FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)) AS retained,
  (SELECT count(*) FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)) AS churned,
  (SELECT count(*) FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y95)) AS acquired,
  (SELECT count(*) FROM (SELECT * FROM y95 UNION SELECT * FROM y96)) AS total_active
""",
    "column_cardinalities": """
SELECT
  count(DISTINCT user_id) AS n_users,
  count(DISTINCT event_type) AS n_event_types,
  count(DISTINCT event_id) AS n_event_ids
FROM events
""",
}

QUERIES = {
    "scd2_priority_history": scd2_priority_history,
    "pit_priority_lookup": pit_priority_lookup,
    "cdc_apply": cdc_apply,
    "ses_user_forecast": ses_user_forecast,
    "dormant_customers": dormant_customers,
    "cohort_retention": cohort_retention,
    "heavy_hitters": heavy_hitters,
    "value_drift_weekly": value_drift_weekly,
    "psi_value_drift": psi_value_drift,
    "markov_next_event_accuracy": markov_next_event_accuracy,
    "order_fanout_histogram": order_fanout_histogram,
    "trimmed_value_stats": trimmed_value_stats,
    "daily_ctr": daily_ctr,
    "event_transitions": event_transitions,
    "events_profile": events_profile,
    "user_value_zscores": user_value_zscores,
    "value_percentiles": value_percentiles,
    "event_type_hour_cube": event_type_hour_cube,
    "asof_click_purchase": asof_click_purchase,
    "asof_next_purchase": asof_next_purchase,
    "documents_profile": documents_profile,
    "bucket_checksum_diff": bucket_checksum_diff,
    "corpus_snapshot_diff": corpus_snapshot_diff,
    "daily_anomalies": daily_anomalies,
    "dau_wau_stickiness": dau_wau_stickiness,
    "conversion_time_percentiles": conversion_time_percentiles,
    "dow_seasonality": dow_seasonality,
    "attribution_window_join": attribution_window_join,
    "attribution_models_daily": attribution_models_daily,
    "table_checksums": table_checksums,
    "user_ks_divergence": user_ks_divergence,
    "event_funnel": event_funnel,
    "value_outliers_mad": value_outliers_mad,
    "urgent_customers_by_segment": urgent_customers_by_segment,
    "revenue_rollup": revenue_rollup,
    "customer_year_sets": customer_year_sets,
    "column_cardinalities": column_cardinalities,
}


# ---------------------------------------------------------------------------
# off-policy evaluation: IPS / SNIPS value of a frequency policy
# ---------------------------------------------------------------------------

# ABSOLUTE split timestamp (not day-of-month): events span 2024-01-01..30
# (TESTDATA.md) so this halves the window; a day-of-month split would
# silently interleave train/eval if the generator ever crossed a month
# boundary — and both engines would agree, so the oracle could never
# catch it (round-4 ADVICE). Naive timestamp literal on BOTH engines.
OPE_SPLIT_TS = "2024-01-16 00:00:00"
OPE_N_ACTIONS = 5  # uniform logging assumption: 5 event types
OPE_PROPENSITY = 1.0 / OPE_N_ACTIONS


def ips_policy_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline policy evaluation (Horvitz-Thompson IPS + self-normalized
    SNIPS): score the deterministic policy "recommend each user's
    most-frequent first-half event type" against second-half logged
    events WITHOUT deploying it — the counterfactual backtest every
    recommender change runs before an A/B slot. Logged propensities are
    taken uniform over the 5 action types (documented assumption; a real
    log would carry them per event).

    Per logged event the IPS weight is 1{π(user)=action}/μ; the
    estimator is ONE pass over the eval window joined to the |users|-row
    policy relation (broadcast-or-shuffle by user — partial-aggregating
    either way). Output per recommended action: match rate, behavior
    value (what actually happened), IPS and SNIPS value estimates — the
    variance-prone IPS next to the stabilized SNIPS is the standard
    pairing (Swaminathan-Joachims). Sums are 4dp-rounded values × exact
    integer weights; divisions guard empty matches (ANSI rule).
    """
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(OPE_SPLIT_TS).cast("timestamp")
    train = ev.filter(F.col("ts") < split)
    evald = ev.filter(F.col("ts") >= split)
    counts = train.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    policy = (
        counts.groupBy("user_id")
        .agg(
            # min(struct(-n, type)): -n ascending = count DESCENDING, and
            # min over the string gives the ALPHABETICAL tie-break the
            # oracle's (n DESC, event_type ASC) row_number uses — a plain
            # max(struct(n, type)) would break ties z-ward instead
            F.min(
                F.struct(
                    (-F.col("n")).alias("negn"),
                    F.col("event_type").alias("t"),
                )
            ).alias("m")
        )
        .select("user_id", F.col("m.t").alias("rec_action"))
    )
    joined = evald.join(policy, "user_id").select(
        "rec_action",
        F.round("value", 4).alias("r"),
        (F.col("event_type") == F.col("rec_action")).cast("int").alias(
            "hit"
        ),
    )
    w = 1.0 / OPE_PROPENSITY  # uniform logging: weight of a matched event
    return (
        joined.groupBy("rec_action")
        .agg(
            F.count(F.lit(1)).alias("n_logged"),
            F.sum("hit").alias("n_matched"),
            F.round(
                F.sum("hit") / F.count(F.lit(1)).cast("double"), 4
            ).alias("match_rate"),
            F.round(F.avg("r"), 4).alias("behavior_value"),
            F.round(
                F.sum(F.col("hit") * F.col("r") * F.lit(w))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("ips_value"),
            F.when(
                F.sum("hit") > 0,
                F.round(
                    F.sum(F.col("hit") * F.col("r"))
                    / F.sum("hit").cast("double"),
                    4,
                ),
            ).alias("snips_value"),
        )
        .orderBy("rec_action")
    )


ORACLE["ips_policy_value"] = f"""
WITH train AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts < TIMESTAMP '{OPE_SPLIT_TS}'
  GROUP BY user_id, event_type
),
policy AS (
  SELECT user_id, event_type AS rec_action FROM (
    SELECT user_id, event_type,
      row_number() OVER (PARTITION BY user_id
                         ORDER BY n DESC, event_type) AS rn
    FROM train
  ) WHERE rn = 1
),
joined AS (
  SELECT p.rec_action, round(e.value, 4) AS r,
    CASE WHEN e.event_type = p.rec_action THEN 1 ELSE 0 END AS hit
  FROM events e
  JOIN policy p ON p.user_id = e.user_id
  WHERE e.ts >= TIMESTAMP '{OPE_SPLIT_TS}'
)
SELECT rec_action,
  CAST(count(*) AS BIGINT) AS n_logged,
  CAST(sum(hit) AS BIGINT) AS n_matched,
  round(CAST(sum(hit) AS DOUBLE) / count(*), 4) AS match_rate,
  round(avg(r), 4) AS behavior_value,
  round(sum(hit * r * {1.0 / OPE_PROPENSITY}) / count(*), 4) AS ips_value,
  CASE WHEN sum(hit) > 0 THEN
    round(sum(hit * r) / CAST(sum(hit) AS DOUBLE), 4) END AS snips_value
FROM joined
GROUP BY rec_action
ORDER BY rec_action
"""
QUERIES["ips_policy_value"] = ips_policy_value


# ---------------------------------------------------------------------------
# Holt-Winters additive forecast (triple exponential smoothing)
# ---------------------------------------------------------------------------

HW_ALPHA = 0.25  # level  (dyadic: every smoothing product is exact)
HW_BETA = 0.125  # trend
HW_GAMMA = 0.25  # seasonal
HW_PERIOD = 7  # weekly seasonality over the 30-day event span
HW_HORIZON = 7


def _hw_spark_fold() -> dict[str, str]:
    """Render the Spark-side HW recurrence (ordered ``aggregate`` fold,
    struct accumulator with the 7-slot seasonal window as scalar
    fields s1..s7 plus the fitted list). The carried state is
    1e4-scaled BIGINT fixed-point: with dyadic smoothing constants
    (1/4, 1/8, 1/4) every update is an exact integer numerator divided
    by a power of two, so the only rounding is ``round(x, 0)`` of a
    double whose fractional part is an exact binary fraction — integer
    halves are exactly representable and both engines round them
    half-away-from-zero identically (the segmented_trend_fit /
    CLAUDE.md integer-position rule; the previous 4dp-double state
    diverged at sf0.001 on a near-half derived value). The two /7
    initialisers are safe unrounded divisions: a k/7 fraction is never
    a half. Display divides by 1e4 at the very end.

    Why not one shared fold text for both engines: DuckDB 1.0's
    ``list_reduce`` MISEVALUATES struct accumulators whose fields
    repeat a nested acc-referencing subexpression (the inlined level
    update inside the trend/season writes) — verified divergence at
    step 2 — and list-valued accumulator fields don't persist at all.
    The oracle therefore replays the identical arithmetic as a
    RECURSIVE CTE (the BPE-loop precedent), where each step is plain
    SQL with a derived-table binding for the level update."""
    ys = "transform(s, x -> x.v4)"
    sum7 = "aggregate({sl}, CAST(0 AS BIGINT), (p, q) -> p + q)"
    w1 = (
        f"CAST(round(CAST({sum7.format(sl=f'slice({ys}, 1, 7)')} AS DOUBLE)"
        " / CAST(7 AS DOUBLE), 0) AS BIGINT)"
    )
    w2 = (
        f"CAST(round(CAST({sum7.format(sl=f'slice({ys}, 8, 7)')} AS DOUBLE)"
        " / CAST(7 AS DOUBLE), 0) AS BIGINT)"
    )
    tr0 = (
        f"CAST(round(CAST({w2} - {w1} AS DOUBLE)"
        " / CAST(7 AS DOUBLE), 0) AS BIGINT)"
    )
    # alpha = gamma = 1/4, beta = 1/8: integer numerators, exact /2^k
    ln = (
        "CAST(round(CAST((y - acc.s1) + 3 * (acc.lev + acc.tr) AS DOUBLE)"
        " / CAST(4 AS DOUBLE), 0) AS BIGINT)"
    )
    trn = (
        f"CAST(round(CAST(({ln} - acc.lev) + 7 * acc.tr AS DOUBLE)"
        " / CAST(8 AS DOUBLE), 0) AS BIGINT)"
    )
    sn = (
        f"CAST(round(CAST((y - {ln}) + 3 * acc.s1 AS DOUBLE)"
        " / CAST(4 AS DOUBLE), 0) AS BIGINT)"
    )
    fit = "acc.lev + acc.tr + acc.s1"
    roll = ", ".join(f"'s{k}', acc.s{k + 1}" for k in range(1, 7))
    seas_init = ", ".join(
        f"'s{k}', try_element_at({ys}, {k}) - {w1}" for k in range(1, 8)
    )
    step = (
        f"named_struct('lev', {ln}, 'tr', {trn}, {roll}, 's7', {sn}, "
        f"'f', concat(acc.f, array({fit})))"
    )
    init = (
        f"named_struct('lev', {w1}, 'tr', {tr0}, {seas_init}, "
        "'f', CAST(array() AS ARRAY<BIGINT>))"
    )
    rest = f"slice({ys}, 8, greatest(size({ys}) - 7, 0))"
    return {
        "ys": ys,
        "fold": f"aggregate({rest}, {init}, (acc, y) -> {step})",
    }


def holt_winters_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple smoothing over the global daily
    mean event value (weekly season) — the forecasting shelf's
    recurrence tier above ``ses_user_forecast`` (level only) and
    ``seasonal_naive_backtest`` (no smoothing). Emits the one-step-
    ahead fit for days 8-30 and a 7-day forecast.

    Like SES, the recurrence s_t = f(s_{t-1}, y_t) is inexpressible in
    any window frame — it is an ORDERED FOLD over the day series, run
    with a struct accumulator (level, trend, 7 seasonal slots, fitted
    list) inside ``aggregate()``. The data pass is ONE day-grain
    aggregate; the fold touches 30 values no matter the corpus size
    (the series grain bounds the state; the 1000-executor cost is the
    daily aggregate alone).

    Cross-engine exactness: daily inputs round 4dp then scale to
    1e4-BIGINT; ALL recurrence state is integer fixed-point (see
    ``_hw_spark_fold`` — dyadic constants make every step an exact
    integer numerator over 2^k, rounded only at integer positions),
    and display divides by 1e4 at the very end. The oracle replays the
    recurrence as a RECURSIVE CTE — see ``_hw_spark_fold`` for why
    DuckDB's own lambda fold cannot be trusted with this state — and a
    pytest replays it a third way in exact-integer Python."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.round(F.avg("value"), 4) * 10000, 0)
        .cast("bigint")
        .alias("v4")
    )
    ser = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "v4"))).alias("s")
    )
    e = _hw_spark_fold()
    res = ser.select(
        "s", F.expr(e["fold"]).alias("r"), F.expr(e["ys"]).alias("ys")
    ).localCheckpoint()  # 1 row; consumed by both output branches
    scale = F.lit(10000.0)
    fits = res.select(
        F.posexplode("r.f").alias("i", "fit4"), "s", "ys"
    ).select(
        F.expr("element_at(s, i + 8).day").alias("day"),
        F.lit("fit").alias("kind"),
        (F.expr("element_at(ys, i + 8)").cast("double") / scale).alias(
            "actual"
        ),
        (F.col("fit4").cast("double") / scale).alias("predicted"),
    )
    season_pick = "".join(
        f"WHEN {k} THEN r.s{k} " for k in range(1, 8)
    )
    fc = res.select(
        F.explode(F.expr(f"sequence(1, {HW_HORIZON})")).alias("h"), "s", "r"
    ).select(
        F.expr("date_add(try_element_at(s, -1).day, h)").alias("day"),
        F.lit("forecast").alias("kind"),
        F.lit(None).cast("double").alias("actual"),
        (
            (
                F.col("r.lev")
                + F.col("h") * F.col("r.tr")
                + F.expr(f"CASE h {season_pick}END")
            ).cast("double")
            / scale
        ).alias("predicted"),
    )
    return fits.unionByName(fc).orderBy("day")


def _duck_hw_sql() -> str:
    seas_init = ", ".join(f"vs[{k}] - w1 AS s{k}" for k in range(1, 8))
    season_pick = "".join(f"WHEN {k} THEN f.s{k} " for k in range(1, 8))
    sum7 = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), {sl}), "
        "(p, q) -> p + q)"
    )
    rint = "CAST(round(CAST({num} AS DOUBLE) / CAST({d} AS DOUBLE), 0) AS BIGINT)"
    w1 = rint.format(num=sum7.format(sl="vs[1:7]"), d=7)
    w2 = rint.format(num=sum7.format(sl="vs[8:14]"), d=7)
    ln = rint.format(
        num="(iv.vs[h.t + 1] - h.s1) + 3 * (h.lev + h.tr)", d=4
    )
    trn = rint.format(num="(x.ln - x.lev) + 7 * x.tr", d=8)
    sn = rint.format(num="(x.y - x.ln) + 3 * x.s1", d=4)
    return f"""
WITH RECURSIVE
daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(round(round(avg(value), 4) * 10000, 0) AS BIGINT) AS v4
  FROM events GROUP BY 1
),
ser AS (
  SELECT list(v4 ORDER BY day) AS vs, list(day ORDER BY day) AS ds
  FROM daily
),
iv AS (
  SELECT vs, ds, len(vs) AS n, {w1} AS w1, {w2} AS w2
  FROM ser
),
hw(t, lev, tr, s1, s2, s3, s4, s5, s6, s7, fit) AS (
  SELECT 7, w1, {rint.format(num='w2 - w1', d=7)}, {seas_init},
    CAST(NULL AS BIGINT)
  FROM iv
  UNION ALL
  SELECT x.t + 1, x.ln,
    {trn},
    x.s2, x.s3, x.s4, x.s5, x.s6, x.s7,
    {sn},
    x.lev + x.tr + x.s1
  FROM (
    SELECT h.*, iv.vs[h.t + 1] AS y, {ln} AS ln
    FROM hw h, iv
    WHERE h.t < iv.n
  ) x
)
SELECT iv.ds[h.t] AS day, 'fit' AS kind,
  CAST(iv.vs[h.t] AS DOUBLE) / CAST(10000 AS DOUBLE) AS actual,
  CAST(h.fit AS DOUBLE) / CAST(10000 AS DOUBLE) AS predicted
FROM hw h, iv
WHERE h.fit IS NOT NULL
UNION ALL
SELECT iv.ds[iv.n] + CAST(u.h AS INTEGER) AS day, 'forecast' AS kind,
  CAST(NULL AS DOUBLE) AS actual,
  CAST(f.lev + u.h * f.tr + (CASE u.h {season_pick}END) AS DOUBLE)
    / CAST(10000 AS DOUBLE) AS predicted
FROM (SELECT * FROM hw ORDER BY t DESC LIMIT 1) f, iv
CROSS JOIN UNNEST(generate_series(1, {HW_HORIZON})) u(h)
ORDER BY day
"""


ORACLE["holt_winters_daily"] = _duck_hw_sql()
QUERIES["holt_winters_daily"] = holt_winters_daily


# ---------------------------------------------------------------------------
# EWMA control chart (Roberts 1959) over the daily value series
# ---------------------------------------------------------------------------

EWMA_LAMBDA = 0.25  # dyadic smoothing weight (exact binary products)
EWMA_L = 3.0  # control-limit width in sigmas
EWMA_BASE = 10  # baseline days estimating mu0 / sigma0


def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart on the global daily mean event value: the
    time-weighted small-shift monitor between the Shewhart chart (too
    insensitive) and CUSUM (no natural chart form) — days 1-10 fit the
    in-control baseline (mu0, sigma0), days 11+ run the EWMA recurrence
    with variance-corrected limits mu0 ± L·sigma0·sqrt(lam/(2-lam)·
    (1-(1-lam)^(2t))), flagging out-of-control days.

    The recurrence is the ``holt_winters_daily`` shape: ONE day-grain
    aggregate over events (the only data-volume pass), then an ordered
    struct-accumulator fold over the 30-value series — state bounded by
    the series grain. The oracle replays it as a RECURSIVE CTE (DuckDB
    list_reduce struct-state is broken; house rule).

    Cross-engine exactness is the INTEGER-POSITION rounding discipline
    (segmented_trend_fit lesson — round(x, 4) of derived chains
    diverges between binary-rounding Spark and repr-rounding DuckDB):
    the EWMA state is a 1e4-scaled BIGINT (e' = round(.25·y+.75·e, 0)),
    the variance-decay factor a 1e8-scaled BIGINT (p' = round(.5625·p,
    0)), the limit half-width rounds at the integer position in 1e4
    units, and the baseline variance is exact integer algebra
    (n·Σy²-(Σy)² over the sorted slice — never var_samp, whose
    summation order differs between engines). All emitted doubles are
    k/1e4 — repr-stable on both engines. Signals compare BIGINTs.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.avg("value"), 4).alias("v")
    )
    ser = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "v"))).alias("s")
    )
    lam, one_m = repr(EWMA_LAMBDA), repr(1.0 - EWMA_LAMBDA)
    decay = repr((1.0 - EWMA_LAMBDA) ** 2)
    ys = (
        "transform(s, r -> CAST(round(r.v * CAST(10000.0 AS DOUBLE), 0)"
        " AS BIGINT))"
    )
    base = f"slice({ys}, 1, {EWMA_BASE})"
    sum_i = "aggregate({a}, CAST(0 AS BIGINT), (p, q) -> p + q)"
    sy = sum_i.format(a=base)
    syy = sum_i.format(a=f"transform({base}, x -> x * x)")
    mu0 = (
        f"CAST(round(CAST({sy} AS DOUBLE)"
        f" / CAST({EWMA_BASE}.0 AS DOUBLE), 0) AS BIGINT)"
    )
    en = (
        f"CAST(round(CAST({lam} AS DOUBLE) * y"
        f" + CAST({one_m} AS DOUBLE) * acc.e, 0) AS BIGINT)"
    )
    pn = f"CAST(round(CAST({decay} AS DOUBLE) * acc.p, 0) AS BIGINT)"
    step = (
        f"named_struct('e', {en}, 'p', {pn}, "
        f"'es', concat(acc.es, array({en})), "
        f"'ps', concat(acc.ps, array({pn})))"
    )
    init = (
        "named_struct('e', mu0_i4, 'p', CAST(100000000 AS BIGINT), "
        "'es', CAST(array() AS ARRAY<BIGINT>), "
        "'ps', CAST(array() AS ARRAY<BIGINT>))"
    )
    tail = (
        f"slice({ys}, {EWMA_BASE + 1}, "
        f"greatest(size({ys}) - {EWMA_BASE}, 0))"
    )
    pre = ser.select(
        "s",
        F.expr(mu0).alias("mu0_i4"),
        (
            F.lit(EWMA_BASE) * F.expr(syy) - F.expr(sy) * F.expr(sy)
        ).alias("var_num"),
    ).localCheckpoint()  # 1 row; fold + output branches share it
    res = pre.select(
        "s",
        "mu0_i4",
        "var_num",
        F.expr(f"aggregate({tail}, {init}, (acc, y) -> {step})").alias("r"),
    )
    vden = float(EWMA_BASE * (EWMA_BASE - 1))
    hw = (
        f"CAST(round(CAST({EWMA_L!r} AS DOUBLE)"
        f" * sqrt(CAST(var_num AS DOUBLE) / CAST({vden!r} AS DOUBLE))"
        f" * sqrt(CAST({lam} AS DOUBLE)"
        f" / CAST({repr(2.0 - EWMA_LAMBDA)} AS DOUBLE))"
        " * sqrt(CAST(1.0 AS DOUBLE)"
        " - CAST(p_i8 AS DOUBLE) / CAST(100000000.0 AS DOUBLE)), 0)"
        " AS BIGINT)"
    )
    out = res.select(
        "mu0_i4",
        "var_num",
        F.posexplode(F.arrays_zip("r.es", "r.ps")).alias("i", "z"),
        "s",
    ).select(
        F.expr(f"element_at(s, i + {EWMA_BASE + 1}).day").alias("day"),
        F.expr(f"element_at(s, i + {EWMA_BASE + 1}).v").alias("y"),
        F.col("z.es").alias("e_i4"),
        F.col("z.ps").alias("p_i8"),
        "mu0_i4",
        "var_num",
    )
    dsc = lambda c: (F.col(c).cast("double") / F.lit(10000.0))
    return out.select(
        "day",
        "y",
        dsc("e_i4").alias("ewma"),
        ((F.col("mu0_i4") + F.expr(hw)).cast("double") / F.lit(10000.0)).alias(
            "ucl"
        ),
        ((F.col("mu0_i4") - F.expr(hw)).cast("double") / F.lit(10000.0)).alias(
            "lcl"
        ),
        (
            F.abs(F.col("e_i4") - F.col("mu0_i4")) > F.expr(hw)
        ).alias("signal"),
    ).orderBy("day")


def _duck_ewma_sql() -> str:
    lam, one_m = repr(EWMA_LAMBDA), repr(1.0 - EWMA_LAMBDA)
    decay = repr((1.0 - EWMA_LAMBDA) ** 2)
    vden = repr(float(EWMA_BASE * (EWMA_BASE - 1)))
    hw = (
        f"CAST(round(CAST({EWMA_L!r} AS DOUBLE)"
        f" * sqrt(CAST(var_num AS DOUBLE) / CAST({vden} AS DOUBLE))"
        f" * sqrt(CAST({lam} AS DOUBLE)"
        f" / CAST({repr(2.0 - EWMA_LAMBDA)} AS DOUBLE))"
        " * sqrt(CAST(1.0 AS DOUBLE)"
        " - CAST(p_i8 AS DOUBLE) / CAST(100000000.0 AS DOUBLE)), 0)"
        " AS BIGINT)"
    )
    return f"""
WITH RECURSIVE
daily AS (
  SELECT CAST(ts AS DATE) AS day, round(avg(value), 4) AS v
  FROM events GROUP BY 1
),
ser AS (
  SELECT list(CAST(round(v * CAST(10000.0 AS DOUBLE), 0) AS BIGINT)
              ORDER BY day) AS ys,
    list(day ORDER BY day) AS ds,
    list(v ORDER BY day) AS vs
  FROM daily
),
pre AS (
  SELECT ys, ds, vs, len(ys) AS n,
    CAST(round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        ys[1:{EWMA_BASE}]), (p, q) -> p + q) AS DOUBLE)
      / CAST({EWMA_BASE}.0 AS DOUBLE), 0) AS BIGINT) AS mu0_i4,
    {EWMA_BASE} * list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(ys[1:{EWMA_BASE}], x -> x * x)), (p, q) -> p + q)
      - list_reduce(list_prepend(CAST(0 AS BIGINT), ys[1:{EWMA_BASE}]),
          (p, q) -> p + q)
        * list_reduce(list_prepend(CAST(0 AS BIGINT), ys[1:{EWMA_BASE}]),
            (p, q) -> p + q) AS var_num
  FROM ser
),
walk(t, e_i4, p_i8) AS (
  SELECT {EWMA_BASE}, mu0_i4, CAST(100000000 AS BIGINT) FROM pre
  UNION ALL
  SELECT w.t + 1,
    CAST(round(CAST({lam} AS DOUBLE) * pre.ys[w.t + 1]
      + CAST({one_m} AS DOUBLE) * w.e_i4, 0) AS BIGINT),
    CAST(round(CAST({decay} AS DOUBLE) * w.p_i8, 0) AS BIGINT)
  FROM walk w, pre
  WHERE w.t < pre.n
)
SELECT pre.ds[w.t] AS day, pre.vs[w.t] AS y,
  CAST(w.e_i4 AS DOUBLE) / CAST(10000.0 AS DOUBLE) AS ewma,
  CAST(pre.mu0_i4 + {hw} AS DOUBLE) / CAST(10000.0 AS DOUBLE) AS ucl,
  CAST(pre.mu0_i4 - {hw} AS DOUBLE) / CAST(10000.0 AS DOUBLE) AS lcl,
  abs(w.e_i4 - pre.mu0_i4) > {hw} AS signal
FROM walk w, pre
WHERE w.t > {EWMA_BASE}
ORDER BY day
"""


ORACLE["ewma_control_chart"] = _duck_ewma_sql()
QUERIES["ewma_control_chart"] = ewma_control_chart


# ---------------------------------------------------------------------------
# exact Shapley-value channel attribution over (user, day) journeys
# ---------------------------------------------------------------------------

# channel → bit, alphabetical; purchase is the CONVERSION, not a channel
SHAPLEY_CHANNELS = [("click", 1), ("error", 2), ("signup", 4), ("view", 8)]
# |T|! · (k-1-|T|)! for k=4, times-24 integer weights (ordering weights)
_SHAPLEY_W24 = {0: 6, 1: 2, 2: 2, 3: 6}


def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value marketing attribution — the game-theoretic tier
    above ``attribution_models_daily``'s first/last/linear heuristics:
    each channel's credit is its average marginal lift to the journey
    conversion rate across all 2⁴ touch coalitions (Shapley 1953, the
    data-driven attribution model). A journey is a (user, day) cell of
    the FULL activity grid (days with no events count — otherwise the
    empty coalition is only observed on converting days and v(∅) is
    selection-biased to 1); its coalition is the set of channel types
    touched that day, conversion = any purchase that day.

    Distributed shape: ONE groupBy(user, day) pass collapses events to
    journey bitmasks; the grid is |users| × 30 rows (users × a 1-row
    broadcast date span); the characteristic function v is a 16-row
    relation, and the Shapley sum is algebra over 4×8 tiny joined rows
    — at 100 TB only the journey collapse touches data volume. With k
    channels the v-table is 2^k rows — exact Shapley is for small k by
    nature (k=4 here); larger k needs sampled permutations (documented,
    out of scope).

    Cross-engine exactness: v is a 1e4-scaled BIGINT rate (integer-
    position round — the segmented_trend_fit rule); the Shapley
    numerator Σ w24·Δv is exact BIGINT algebra (weights are the
    times-24 integers {6,2,2,6}); ONE final division renders the
    display double as k/240000 — identical repr both engines.
    Efficiency (Σφ = v(full) − v(∅)) is an algebraic identity in these
    integers and is pinned by test.
    """
    ev = load_table(spark, sf_dir, "events")
    bits = [
        F.max(
            F.when(F.col("event_type") == ch, F.lit(bit)).otherwise(0)
        ).alias(f"b{bit}")
        for ch, bit in SHAPLEY_CHANNELS
    ]
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        *bits,
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    masked = daily.select(
        "user_id",
        "day",
        (F.col("b1") + F.col("b2") + F.col("b4") + F.col("b8")).alias(
            "mask"
        ),
        "conv",
    )
    users = ev.select("user_id").distinct()
    span = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    grid = users.crossJoin(F.broadcast(span)).select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    journeys = grid.join(masked, ["user_id", "day"], "left").select(
        F.coalesce(F.col("mask"), F.lit(0)).alias("mask"),
        F.coalesce(F.col("conv"), F.lit(0)).alias("conv"),
    )
    vobs = journeys.groupBy("mask").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c")
    )
    allmasks = spark.range(16).select(F.col("id").cast("int").alias("mask"))
    vtab = (
        allmasks.join(F.broadcast(vobs), "mask", "left")
        .select(
            "mask",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(
                F.round(
                    F.lit(10000.0)
                    * F.col("c").cast("double")
                    / F.col("n").cast("double"),
                    0,
                ).cast("long"),
                F.lit(0),
            ).alias("v_i4"),
        )
        .localCheckpoint()  # 16 rows; T / T∪{c} / touched branches share it
    )
    chans = spark.createDataFrame(
        SHAPLEY_CHANNELS, "channel string, bit int"
    )
    pop = "((mask div 1) % 2 + (mask div 2) % 2 + (mask div 4) % 2 + (mask div 8) % 2)"
    w24 = f"CASE {pop} WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 6 END"
    without = vtab.crossJoin(F.broadcast(chans)).filter(
        F.expr("(mask div bit) % 2 = 0")
    )
    joined = without.alias("t").join(
        vtab.select(
            F.col("mask").alias("mask_up"), F.col("v_i4").alias("v_up")
        ),
        F.expr("t.mask + t.bit = mask_up"),
    )
    num = joined.groupBy("channel", "bit").agg(
        F.sum(
            F.expr(w24) * (F.col("v_up") - F.col("v_i4"))
        ).alias("num24")
    )
    touched = (
        vtab.crossJoin(F.broadcast(chans))
        .filter(F.expr("(mask div bit) % 2 = 1"))
        .groupBy("channel")
        .agg(F.sum("n").alias("n_journeys_touched"))
    )
    single = vtab.crossJoin(F.broadcast(chans)).filter(
        F.expr("mask = bit")
    ).select("channel", F.col("v_i4").alias("v1_i4"))
    return (
        num.join(touched, "channel")
        .join(single, "channel")
        .select(
            "channel",
            "n_journeys_touched",
            (
                F.col("num24").cast("double") / F.lit(240000.0)
            ).alias("shapley_lift"),
            (F.col("v1_i4").cast("double") / F.lit(10000.0)).alias(
                "singleton_rate"
            ),
        )
        .orderBy("channel")
    )


def _duck_shapley_sql() -> str:
    cases = " ".join(
        f"WHEN '{ch}' THEN {bit}" for ch, bit in SHAPLEY_CHANNELS
    )
    chan_rows = ", ".join(f"('{ch}', {bit})" for ch, bit in SHAPLEY_CHANNELS)
    pop = ("((t.mask // 1) % 2 + (t.mask // 2) % 2"
           " + (t.mask // 4) % 2 + (t.mask // 8) % 2)")
    w24 = f"CASE {pop} WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 6 END"
    bit_aggs = ", ".join(
        f"max(CASE WHEN event_type = '{ch}' THEN {bit} ELSE 0 END) AS b{bit}"
        for ch, bit in SHAPLEY_CHANNELS
    )
    return f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, {bit_aggs},
    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1, 2
),
masked AS (
  SELECT user_id, day, b1 + b2 + b4 + b8 AS mask, conv FROM daily
),
span AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events
),
grid AS (
  SELECT u.user_id, CAST(g.day AS DATE) AS day
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN span
  CROSS JOIN LATERAL UNNEST(generate_series(span.d0, span.d1,
    INTERVAL 1 DAY)) g(day)
),
journeys AS (
  SELECT coalesce(m.mask, 0) AS mask, coalesce(m.conv, 0) AS conv
  FROM grid g
  LEFT JOIN masked m ON m.user_id = g.user_id AND m.day = g.day
),
vobs AS (
  SELECT mask, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(conv) AS BIGINT) AS c
  FROM journeys GROUP BY mask
),
vtab AS (
  SELECT am.mask, coalesce(v.n, 0) AS n,
    coalesce(CAST(round(CAST(10000.0 AS DOUBLE) * CAST(v.c AS DOUBLE)
      / CAST(v.n AS DOUBLE), 0) AS BIGINT), 0) AS v_i4
  FROM (SELECT unnest(generate_series(0, 15)) AS mask) am
  LEFT JOIN vobs v ON v.mask = am.mask
),
chans(channel, bit) AS (VALUES {chan_rows}),
num AS (
  SELECT ch.channel, ch.bit,
    CAST(sum(({w24}) * (up.v_i4 - t.v_i4)) AS BIGINT) AS num24
  FROM vtab t
  CROSS JOIN chans ch
  JOIN vtab up ON up.mask = t.mask + ch.bit
  WHERE (t.mask // ch.bit) % 2 = 0
  GROUP BY 1, 2
),
touched AS (
  SELECT ch.channel, CAST(sum(t.n) AS BIGINT) AS n_journeys_touched
  FROM vtab t CROSS JOIN chans ch
  WHERE (t.mask // ch.bit) % 2 = 1
  GROUP BY 1
),
single AS (
  SELECT ch.channel, t.v_i4 AS v1_i4
  FROM vtab t JOIN chans ch ON t.mask = ch.bit
)
SELECT n.channel, touched.n_journeys_touched,
  CAST(n.num24 AS DOUBLE) / CAST(240000.0 AS DOUBLE) AS shapley_lift,
  CAST(single.v1_i4 AS DOUBLE) / CAST(10000.0 AS DOUBLE) AS singleton_rate
FROM num n
JOIN touched ON touched.channel = n.channel
JOIN single ON single.channel = n.channel
ORDER BY n.channel
"""


ORACLE["shapley_channel_attribution"] = _duck_shapley_sql()
QUERIES["shapley_channel_attribution"] = shapley_channel_attribution


# ---------------------------------------------------------------------------
# bandit replay evaluation (Li et al. 2011) of a stochastic eps-greedy policy
# ---------------------------------------------------------------------------

BANDIT_EPS_PCT = 10  # explore on md5(event_id) % 100 < 10  (eps = 0.1)
BANDIT_ARMS = ["click", "error", "purchase", "signup", "view"]


def bandit_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay evaluation (Li et al. 2011, the unbiased offline bandit
    protocol) of a STOCHASTIC epsilon-greedy policy, next to its
    importance-weighted contrast — the two standard off-policy-
    evaluation families on one readout (``ips_policy_value`` covers the
    deterministic-policy IPS case; this is the stochastic case where
    replay applies). The policy: with prob 1-eps play each user's
    first-half favorite arm (the IPS operator's policy), with prob eps
    an md5-uniform arm; the replay estimator keeps exactly the logged
    events whose action equals the policy's sampled action and averages
    their rewards; the IPS estimator weights every logged event by
    pi(a|x)/mu(a).

    Under uniform logging (mu = 1/5, the documented assumption) both
    estimators are unbiased for the same quantity, so their agreement
    is itself a diagnostic — the test pins |replay - ips| small while
    the naive behavior average differs.

    Distributed shape: one pass builds the per-user policy (argmax
    aggregate), one pass replays the eval window against it (broadcast-
    or-shuffle join on user); the md5 exploration draw is per-event,
    stateless, and identically computable on both engines — replaying a
    LEARNING bandit (state evolving per step) is inherently sequential
    and out of engine scope (documented).

    Cross-engine: the explore draw and arm pick are md5-derived ints
    (house hashing); rewards round 4dp and sum as 1e4-scaled BIGINTs
    (order-free); pi(a|x) probabilities are exact rationals rendered
    from module constants; final divisions are single rounded chains.
    """
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(OPE_SPLIT_TS).cast("timestamp")
    train = ev.filter(F.col("ts") < split)
    evald = ev.filter(F.col("ts") >= split)
    policy = (
        train.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n")).alias("negn"),
                    F.col("event_type").alias("t"),
                )
            ).alias("m")
        )
        .select("user_id", F.col("m.t").alias("greedy_arm"))
    )
    arm_case = "CASE " + " ".join(
        f"WHEN {i} THEN '{a}'" for i, a in enumerate(BANDIT_ARMS)
    ) + " END"
    n_arms = len(BANDIT_ARMS)
    draw = md5_int_sql("CAST(event_id AS STRING)")
    pick = md5_int_sql("CAST(event_id AS STRING) || '#arm'")
    joined = evald.join(policy, "user_id").select(
        "event_type",
        "greedy_arm",
        F.round("value", 4).alias("r"),
        (F.expr(draw) % 100 < BANDIT_EPS_PCT).alias("explored"),
        F.expr(f"{arm_case.replace('CASE', f'CASE ({pick}) % {n_arms}')}")
        .alias("explore_arm"),
    )
    sampled = joined.select(
        "event_type",
        "greedy_arm",
        "r",
        F.when(F.col("explored"), F.col("explore_arm"))
        .otherwise(F.col("greedy_arm"))
        .alias("sampled_arm"),
    )
    eps = BANDIT_EPS_PCT / 100.0
    # pi(a|x): greedy arm gets (1-eps) + eps/5, others eps/5
    r_i4 = F.round(F.col("r") * 10000, 0).cast("long")
    hit = (F.col("event_type") == F.col("sampled_arm")).cast("int")
    # w takes exactly TWO values (greedy-matched / not), so Σw·r is
    # decomposed into two EXACT integer sums × constants — a direct
    # float-product sum would be hash-agg-order dependent
    gm = (F.col("event_type") == F.col("greedy_arm")).cast("int")
    out = sampled.select(
        "greedy_arm",
        r_i4.alias("r_i4"),
        hit.alias("hit"),
        gm.alias("gm"),
    )
    return (
        out.groupBy("greedy_arm")
        .agg(
            F.count(F.lit(1)).alias("n_logged"),
            F.sum("hit").alias("n_replayed"),
            F.when(
                F.sum("hit") > 0,
                F.round(
                    F.sum(F.col("hit") * F.col("r_i4")).cast("double")
                    / (F.lit(10000.0) * F.sum("hit").cast("double")),
                    4,
                ),
            ).alias("replay_value"),
            F.round(
                (
                    F.lit(float(n_arms) * ((1.0 - eps) + eps / n_arms))
                    * F.sum(F.col("gm") * F.col("r_i4")).cast("double")
                    + F.lit(float(n_arms) * (eps / n_arms))
                    * F.sum(
                        (1 - F.col("gm")) * F.col("r_i4")
                    ).cast("double")
                )
                / (F.lit(10000.0) * F.count(F.lit(1)).cast("double")),
                4,
            ).alias("ips_value"),
            F.round(
                F.sum("r_i4").cast("double")
                / (F.lit(10000.0) * F.count(F.lit(1)).cast("double")),
                4,
            ).alias("behavior_value"),
        )
        .orderBy("greedy_arm")
    )


def _duck_bandit_sql() -> str:
    n_arms = len(BANDIT_ARMS)
    eps = BANDIT_EPS_PCT / 100.0
    arm_case = "CASE (" + duck_md5_int(
        "CAST(event_id AS VARCHAR) || '#arm'"
    ) + f") % {n_arms} " + " ".join(
        f"WHEN {i} THEN '{a}'" for i, a in enumerate(BANDIT_ARMS)
    ) + " END"
    draw = duck_md5_int("CAST(event_id AS VARCHAR)")
    return f"""
WITH train AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts < TIMESTAMP '{OPE_SPLIT_TS}'
  GROUP BY 1, 2
),
policy AS (
  SELECT user_id, event_type AS greedy_arm
  FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
      ORDER BY n DESC, event_type ASC) AS rk
    FROM train
  ) WHERE rk = 1
),
sampled AS (
  SELECT e.event_type, p.greedy_arm, round(e.value, 4) AS r,
    CASE WHEN ({draw}) % 100 < {BANDIT_EPS_PCT}
         THEN {arm_case} ELSE p.greedy_arm END AS sampled_arm
  FROM events e
  JOIN policy p ON p.user_id = e.user_id
  WHERE e.ts >= TIMESTAMP '{OPE_SPLIT_TS}'
),
scored AS (
  SELECT greedy_arm,
    CAST(round(r * 10000, 0) AS BIGINT) AS r_i4,
    CASE WHEN event_type = sampled_arm THEN 1 ELSE 0 END AS hit,
    CASE WHEN event_type = greedy_arm THEN 1 ELSE 0 END AS gm
  FROM sampled
)
SELECT greedy_arm,
  CAST(count(*) AS BIGINT) AS n_logged,
  CAST(sum(hit) AS BIGINT) AS n_replayed,
  CASE WHEN sum(hit) > 0 THEN
    round(CAST(CAST(sum(hit * r_i4) AS BIGINT) AS DOUBLE)
      / (CAST(10000.0 AS DOUBLE) * CAST(sum(hit) AS DOUBLE)), 4)
  END AS replay_value,
  round((CAST(4.6000000000000005 AS DOUBLE)
      * CAST(CAST(sum(gm * r_i4) AS BIGINT) AS DOUBLE)
    + CAST(0.1 AS DOUBLE)
      * CAST(CAST(sum((1 - gm) * r_i4) AS BIGINT) AS DOUBLE))
    / (CAST(10000.0 AS DOUBLE) * count(*)), 4) AS ips_value,
  round(CAST(CAST(sum(r_i4) AS BIGINT) AS DOUBLE)
    / (CAST(10000.0 AS DOUBLE) * count(*)), 4) AS behavior_value
FROM scored
GROUP BY greedy_arm
ORDER BY greedy_arm
"""


ORACLE["bandit_replay_eval"] = _duck_bandit_sql()
QUERIES["bandit_replay_eval"] = bandit_replay_eval


# ---------------------------------------------------------------------------
# ALS user-factor half-step (implicit-feedback matrix factorization)
# ---------------------------------------------------------------------------

ALS_RANK = 2
ALS_LAMBDA = 10  # integer ridge term keeps the normal matrix exact


def als_user_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact ALS half-step of rank-2 implicit-feedback matrix
    factorization (Hu-Koren-Volinsky shape) over the user × event-type
    interaction matrix: item factors Y are FIXED deterministic integers
    (md5-derived in [-9, 9], one per (event_type, dim)), and each
    user's factor solves the rank-2 ridge normal equations
    x_u = (YᵀY + λI)⁻¹ Yᵀ r_u in closed form. This is the
    recommender-system family's missing tier between the count-based
    ``item_item_cosine`` neighborhood model and the iterative
    gradient fits — and exactly how a distributed ALS round works:
    the normal matrix YᵀY is tiny and SHARED (1-row broadcast), the
    per-user right-hand side Yᵀr_u is ONE partial-aggregating groupBy
    over the interaction counts, and the 2×2 solve is closed-form
    arithmetic — no iteration, no driver loop, linear in users.

    Cross-engine exactness: integer Y and integer counts make b and
    the normal matrix exact BIGINTs; each factor is ONE division of
    exact integers (Cramer's rule) evaluated in DOUBLE — numerators in
    DOUBLE per the Gini overflow rule (at 100 TB a22·b1 can pass 2⁶³;
    products stay exact below 2⁵³ at every test SF) — scaled 1e4 and
    rounded at the integer position, so both engines round the same
    correctly-rounded double (never the repr-vs-binary 4dp trap)."""
    ev = load_table(spark, sf_dir, "events")
    y1 = md5_int_sql("concat('als-f1:', event_type)") + " % 19 - 9"
    y2 = md5_int_sql("concat('als-f2:', event_type)") + " % 19 - 9"
    r = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_user = (
        r.select(
            "user_id",
            "cnt",
            (F.expr(y1) * F.col("cnt")).alias("t1"),
            (F.expr(y2) * F.col("cnt")).alias("t2"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.sum("t1").alias("b1"),
            F.sum("t2").alias("b2"),
        )
    )
    norm = (
        ev.select(F.col("event_type").alias("it"))
        .distinct()
        .select(
            F.expr(y1.replace("event_type", "it")).alias("y1"),
            F.expr(y2.replace("event_type", "it")).alias("y2"),
        )
        .agg(
            (F.sum(F.col("y1") * F.col("y1")) + F.lit(ALS_LAMBDA)).alias(
                "a11"
            ),
            F.sum(F.col("y1") * F.col("y2")).alias("a12"),
            (F.sum(F.col("y2") * F.col("y2")) + F.lit(ALS_LAMBDA)).alias(
                "a22"
            ),
        )
    )
    solved = per_user.crossJoin(F.broadcast(norm)).select(
        "user_id",
        "n_events",
        F.expr(
            "CAST(round((CAST(a22 AS DOUBLE) * b1"
            " - CAST(a12 AS DOUBLE) * b2) * 10000"
            " / (CAST(a11 AS DOUBLE) * a22 - CAST(a12 AS DOUBLE) * a12),"
            " 0) AS BIGINT)"
        ).alias("x1_i4"),
        F.expr(
            "CAST(round((CAST(a11 AS DOUBLE) * b2"
            " - CAST(a12 AS DOUBLE) * b1) * 10000"
            " / (CAST(a11 AS DOUBLE) * a22 - CAST(a12 AS DOUBLE) * a12),"
            " 0) AS BIGINT)"
        ).alias("x2_i4"),
    )
    return solved.select(
        "user_id",
        "n_events",
        (F.col("x1_i4").cast("double") / F.lit(10000.0)).alias("factor_1"),
        (F.col("x2_i4").cast("double") / F.lit(10000.0)).alias("factor_2"),
    ).orderBy("user_id")


def _duck_als_sql() -> str:
    y1 = duck_md5_int("concat('als-f1:', event_type)") + " % 19 - 9"
    y2 = duck_md5_int("concat('als-f2:', event_type)") + " % 19 - 9"
    return f"""
WITH r AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
per_user AS (
  SELECT user_id,
    CAST(sum(cnt) AS BIGINT) AS n_events,
    CAST(sum(({y1}) * cnt) AS BIGINT) AS b1,
    CAST(sum(({y2}) * cnt) AS BIGINT) AS b2
  FROM r GROUP BY user_id
),
norm AS (
  SELECT
    CAST(sum(y1 * y1) + {ALS_LAMBDA} AS BIGINT) AS a11,
    CAST(sum(y1 * y2) AS BIGINT) AS a12,
    CAST(sum(y2 * y2) + {ALS_LAMBDA} AS BIGINT) AS a22
  FROM (
    SELECT {y1} AS y1, {y2} AS y2
    FROM (SELECT DISTINCT event_type FROM events)
  )
),
solved AS (
  SELECT user_id, n_events,
    CAST(round((CAST(a22 AS DOUBLE) * b1
      - CAST(a12 AS DOUBLE) * b2) * 10000
      / (CAST(a11 AS DOUBLE) * a22 - CAST(a12 AS DOUBLE) * a12),
      0) AS BIGINT) AS x1_i4,
    CAST(round((CAST(a11 AS DOUBLE) * b2
      - CAST(a12 AS DOUBLE) * b1) * 10000
      / (CAST(a11 AS DOUBLE) * a22 - CAST(a12 AS DOUBLE) * a12),
      0) AS BIGINT) AS x2_i4
  FROM per_user, norm
)
SELECT user_id, n_events,
  CAST(x1_i4 AS DOUBLE) / CAST(10000 AS DOUBLE) AS factor_1,
  CAST(x2_i4 AS DOUBLE) / CAST(10000 AS DOUBLE) AS factor_2
FROM solved
ORDER BY user_id
"""


ORACLE["als_user_factors"] = _duck_als_sql()
QUERIES["als_user_factors"] = als_user_factors


# ---------------------------------------------------------------------------
# STL-lite decomposition: trend (centered MA) + weekly seasonal + remainder
# ---------------------------------------------------------------------------

STL_PERIOD = 7
STL_HALF = 3  # centered moving-average half-width (7-day window)


def stl_daily_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily mean event value
    (the moving-average skeleton of STL, without loess): trend = full
    centered {STL_PERIOD}-day moving average (NULL at the edges),
    seasonal = centered day-of-week means of the detrended series,
    remainder = y − trend − seasonal. The first diagnostic a
    forecasting pipeline runs before picking a model family
    (Cleveland et al. 1990's decomposition step; this is the
    ``seasonal_decompose`` shape).

    Scale: the data pass is ONE day-grain aggregate; everything after
    runs on the ≤|days| relation (ordered windows over day grain, a
    7-row seasonal table broadcast back). Cross-engine exactness per
    the CLAUDE.md fixed-point chain rule: daily inputs → 1e4 BIGINTs,
    trend/seasonal round ONLY at integer positions on the 1e4 scale
    (integer halves are exactly representable — engines agree),
    detrended/remainder stay exact integer subtractions, display
    divides by 1e4 at the very end. Day-of-week is computed
    arithmetically (days since a fixed Monday, mod 7) — never from
    dialect-specific dow functions."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.round(F.avg("value"), 4) * 10000, 0)
        .cast("bigint")
        .alias("v4")
    )
    w_ma = Window.orderBy("day").rowsBetween(-STL_HALF, STL_HALF)
    trended = daily.select(
        "day",
        "v4",
        F.when(
            F.count(F.lit(1)).over(w_ma) == STL_PERIOD,
            F.round(F.sum("v4").over(w_ma) / float(STL_PERIOD), 0).cast(
                "bigint"
            ),
        ).alias("t4"),
        (
            F.datediff(F.col("day"), F.lit("1970-01-05").cast("date"))
            % STL_PERIOD
        ).alias("dow"),
    )
    seas_raw = (
        trended.filter(F.col("t4").isNotNull())
        .groupBy("dow")
        .agg(
            F.round(
                F.sum(F.col("v4") - F.col("t4")) / F.count(F.lit(1)), 0
            )
            .cast("bigint")
            .alias("s4raw")
        )
    )
    wg = Window.partitionBy()
    seas = seas_raw.select(
        "dow",
        (
            F.col("s4raw")
            - F.round(
                F.sum("s4raw").over(wg) / float(STL_PERIOD), 0
            ).cast("bigint")
        ).alias("s4"),
    )
    scale = F.lit(10000.0)
    return (
        trended.join(F.broadcast(seas), "dow")
        .select(
            "day",
            (F.col("v4").cast("double") / scale).alias("value"),
            (F.col("t4").cast("double") / scale).alias("trend"),
            (F.col("s4").cast("double") / scale).alias("seasonal"),
            (
                (F.col("v4") - F.col("t4") - F.col("s4")).cast("double")
                / scale
            ).alias("remainder"),
        )
        .orderBy("day")
    )


ORACLE["stl_daily_decomposition"] = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(round(round(avg(value), 4) * 10000, 0) AS BIGINT) AS v4
  FROM events
  GROUP BY 1
),
trended AS (
  SELECT day, v4,
    CASE WHEN count(*) OVER (ORDER BY day
        ROWS BETWEEN {STL_HALF} PRECEDING AND {STL_HALF} FOLLOWING)
        = {STL_PERIOD}
      THEN CAST(round(sum(v4) OVER (ORDER BY day
        ROWS BETWEEN {STL_HALF} PRECEDING AND {STL_HALF} FOLLOWING)
        / CAST({STL_PERIOD} AS DOUBLE), 0) AS BIGINT)
    END AS t4,
    datediff('day', DATE '1970-01-05', day) % {STL_PERIOD} AS dow
  FROM daily
),
seas_raw AS (
  SELECT dow,
    CAST(round(CAST(sum(v4 - t4) AS DOUBLE) / count(*), 0) AS BIGINT)
      AS s4raw
  FROM trended WHERE t4 IS NOT NULL
  GROUP BY 1
),
seas AS (
  SELECT dow,
    s4raw - CAST(round(CAST(sum(s4raw) OVER () AS DOUBLE)
      / CAST({STL_PERIOD} AS DOUBLE), 0) AS BIGINT) AS s4
  FROM seas_raw
)
SELECT t.day,
  CAST(t.v4 AS DOUBLE) / 10000.0 AS value,
  CAST(t.t4 AS DOUBLE) / 10000.0 AS trend,
  CAST(s.s4 AS DOUBLE) / 10000.0 AS seasonal,
  CAST(t.v4 - t.t4 - s.s4 AS DOUBLE) / 10000.0 AS remainder
FROM trended t JOIN seas s USING (dow)
ORDER BY t.day
"""
QUERIES["stl_daily_decomposition"] = stl_daily_decomposition


# ---------------------------------------------------------------------------
# Two-component Gaussian mixture EM over event value — fixed-point trajectory
# ---------------------------------------------------------------------------

GMM_ROUNDS = 3
GMM_VAR_FLOOR = 1e-6


def gmm2_value_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit a 2-component 1-d Gaussian mixture to event ``value`` by EM,
    IN the engine — the distribution-modeling counterpart of
    ``logreg_churn_gd`` (same "one allreduce per epoch" layout). Emits
    the {GMM_ROUNDS}-round parameter trajectory (weights, means,
    sigmas, mean log-likelihood) — the fit a pipeline runs to separate
    a mixed population (e.g. organic vs promoted transaction values)
    before thresholding.

    Scale shape: each EM round is ONE map-side partial hash aggregate
    over the localCheckpointed 1-column matrix; driver traffic is 5
    fit scalars per round; E-step state is 5 doubles regardless of
    corpus size. Component identity is pinned by the deterministic
    init (m1 = 0.5·mean, m2 = 1.5·mean) — no label switching inside
    a monotone EM trajectory.

    Cross-engine exactness (the logreg_churn_gd fixed-point recipe):
    values quantize to exact centi-integers; carried params round 6dp
    at every boundary; the per-row log-density gap z rounds 6dp before
    the responsibility sigmoid, responsibilities round to 1e4-scaled
    BIGINTs and the log-likelihood to 1e4-scaled BIGINTs BEFORE the
    order-free integer sums (Σr4·x² ≤ ~2.4e13/row — BIGINT headroom to
    ~4e5 rows per sum at this value range; at larger SF drop the
    responsibility scale, the pq_codebook_audit lever). Driver M-steps
    replay engine rounding via ``round_half_up``; the oracle unrolls
    every round as CTE pairs and reproduces the trajectory bit-for-bit."""
    import math as m

    from ..functions.rounding import round_half_up as rhu

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = ev.select(
        F.round(F.col("value") * 100, 0).cast("long").alias("x")
    ).localCheckpoint()
    g = x.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    ).collect()[0]
    n, s1, s2 = g["n"], g["s1"], g["s2"]
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / n
    w = 0.5
    m1 = rhu(mean * 0.5, 6)
    m2 = rhu(mean * 1.5, 6)
    v1 = v2 = max(rhu(var, 6), GMM_VAR_FLOOR)

    out = []
    for rnd in range(1, GMM_ROUNDS + 1):
        xd = F.col("x").cast("double")
        # log constants round 8dp (gaussian_nb precedent): Python math.log
        # and DuckDB ln() can differ in the last ulp — the 8dp round makes
        # both sides carry the identical constant into every row
        a = (
            F.lit(rhu(m.log(w), 8))
            - 0.5 * F.lit(rhu(m.log(v1), 8))
            - (xd - F.lit(m1)) * (xd - F.lit(m1)) / F.lit(2.0 * v1)
        )
        b = (
            F.lit(rhu(m.log(1.0 - w), 8))
            - 0.5 * F.lit(rhu(m.log(v2), 8))
            - (xd - F.lit(m2)) * (xd - F.lit(m2)) / F.lit(2.0 * v2)
        )
        z = F.round(b - a, 6)
        # ONE round, at the integer position of the 1e4 scale — an inner
        # 8dp round before scaling recreates the non-integer chain trap
        # (an ...5000 eighth decimal becomes an inexact half at ×1e4)
        r = F.lit(1.0) / (F.lit(1.0) + F.exp(z))
        r4 = F.round(r * 10000, 0).cast("long")
        ll = F.greatest(a, b) + F.log(F.lit(1.0) + F.exp(-F.abs(z)))
        ll4 = F.round(ll * 10000, 0).cast("long")
        s = x.select(
            "x", r4.alias("r4"), ll4.alias("ll4")
        ).agg(
            F.sum("r4").alias("sr"),
            F.sum(F.col("r4") * F.col("x")).alias("srx"),
            F.sum(F.col("r4") * F.col("x") * F.col("x")).alias("srxx"),
            F.sum("ll4").alias("sll"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.count(F.lit(1)).alias("nn"),
        ).collect()[0]
        sr, srx, srxx = s["sr"], s["srx"], s["srxx"]
        sll, sx, sxx, nn = s["sll"], s["sx"], s["sxx"], s["nn"]
        tot = 10000 * nn
        mu1 = srx / sr
        mu2 = (sx * 10000 - srx) / (tot - sr)
        w = rhu(sr / tot, 6)
        nv1 = max(rhu(srxx / sr - mu1 * mu1, 6), GMM_VAR_FLOOR)
        nv2 = max(
            rhu((sxx * 10000 - srxx) / (tot - sr) - mu2 * mu2, 6),
            GMM_VAR_FLOOR,
        )
        m1, m2, v1, v2 = rhu(mu1, 6), rhu(mu2, 6), nv1, nv2
        # display: pure division/sqrt of the 6dp fixed-point state — NO
        # further rounding (a round here would sit at non-integer
        # positions of already-rounded values, the CLAUDE.md chain trap;
        # identical doubles hash identically without it)
        out.append(
            (
                rnd,
                w,
                m1 / 100.0,
                m.sqrt(v1) / 100.0,
                m2 / 100.0,
                m.sqrt(v2) / 100.0,
                sll / nn / 10000.0,
            )
        )
    return spark.createDataFrame(
        out,
        "round int, weight1 double, mu1 double, sigma1 double, "
        "mu2 double, sigma2 double, avg_loglik double",
    ).orderBy("round")


def _gmm_oracle() -> str:
    resp = """
resp{k} AS (
  SELECT x.x,
    CAST(round(1.0 / (1.0 + exp(
      round((round(ln(1.0 - p.w), 8) - 0.5 * round(ln(p.v2), 8)
          - (CAST(x.x AS DOUBLE) - p.m2) * (CAST(x.x AS DOUBLE) - p.m2)
            / (2.0 * p.v2))
        - (round(ln(p.w), 8) - 0.5 * round(ln(p.v1), 8)
          - (CAST(x.x AS DOUBLE) - p.m1) * (CAST(x.x AS DOUBLE) - p.m1)
            / (2.0 * p.v1)), 6)
    )) * 10000, 0) AS BIGINT) AS r4,
    CAST(round((greatest(
        round(ln(p.w), 8) - 0.5 * round(ln(p.v1), 8)
          - (CAST(x.x AS DOUBLE) - p.m1) * (CAST(x.x AS DOUBLE) - p.m1)
            / (2.0 * p.v1),
        round(ln(1.0 - p.w), 8) - 0.5 * round(ln(p.v2), 8)
          - (CAST(x.x AS DOUBLE) - p.m2) * (CAST(x.x AS DOUBLE) - p.m2)
            / (2.0 * p.v2))
      + ln(1.0 + exp(-abs(round((round(ln(1.0 - p.w), 8) - 0.5 * round(ln(p.v2), 8)
          - (CAST(x.x AS DOUBLE) - p.m2) * (CAST(x.x AS DOUBLE) - p.m2)
            / (2.0 * p.v2))
        - (round(ln(p.w), 8) - 0.5 * round(ln(p.v1), 8)
          - (CAST(x.x AS DOUBLE) - p.m1) * (CAST(x.x AS DOUBLE) - p.m1)
            / (2.0 * p.v1)), 6))))) * 10000, 0) AS BIGINT) AS ll4
  FROM xs x CROSS JOIN params{j} p
),
sums{k} AS MATERIALIZED (
  SELECT CAST(sum(r4) AS BIGINT) AS sr,
    CAST(sum(r4 * x) AS BIGINT) AS srx,
    CAST(sum(r4 * x * x) AS BIGINT) AS srxx,
    CAST(sum(ll4) AS BIGINT) AS sll,
    CAST(sum(x) AS BIGINT) AS sx,
    CAST(sum(x * x) AS BIGINT) AS sxx,
    CAST(count(*) AS BIGINT) AS nn
  FROM resp{k}
),
params{k} AS MATERIALIZED (
  SELECT
    round(CAST(sr AS DOUBLE) / (10000.0 * nn), 6) AS w,
    round(CAST(srx AS DOUBLE) / sr, 6) AS m1,
    greatest(round(CAST(srxx AS DOUBLE) / sr
      - (CAST(srx AS DOUBLE) / sr) * (CAST(srx AS DOUBLE) / sr), 6),
      {floor}) AS v1,
    round(CAST(sx * 10000 - srx AS DOUBLE) / (10000 * nn - sr), 6) AS m2,
    greatest(round(CAST(sxx * 10000 - srxx AS DOUBLE) / (10000 * nn - sr)
      - (CAST(sx * 10000 - srx AS DOUBLE) / (10000 * nn - sr))
      * (CAST(sx * 10000 - srx AS DOUBLE) / (10000 * nn - sr)), 6),
      {floor}) AS v2,
    sll, nn
  FROM sums{k}
)"""
    rounds = "".join(
        "," + resp.format(k=k, j=k - 1, floor=GMM_VAR_FLOOR)
        for k in range(1, GMM_ROUNDS + 1)
    )
    finals = "\nUNION ALL\n".join(
        f"""SELECT {k} AS round, w AS weight1,
  m1 / 100.0 AS mu1, sqrt(v1) / 100.0 AS sigma1,
  m2 / 100.0 AS mu2, sqrt(v2) / 100.0 AS sigma2,
  CAST(sll AS DOUBLE) / nn / 10000.0 AS avg_loglik
FROM params{k}"""
        for k in range(1, GMM_ROUNDS + 1)
    )
    return f"""
WITH xs AS MATERIALIZED (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL
),
init AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS s1, CAST(sum(x * x) AS BIGINT) AS s2
  FROM xs
),
params0 AS MATERIALIZED (
  SELECT 0.5 AS w,
    round(CAST(s1 AS DOUBLE) / n * 0.5, 6) AS m1,
    greatest(round((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n, 6),
      {GMM_VAR_FLOOR}) AS v1,
    round(CAST(s1 AS DOUBLE) / n * 1.5, 6) AS m2,
    greatest(round((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n, 6),
      {GMM_VAR_FLOOR}) AS v2
  FROM init
){rounds}
SELECT * FROM (
{finals}
) ORDER BY round
"""


ORACLE["gmm2_value_em"] = _gmm_oracle()
QUERIES["gmm2_value_em"] = gmm2_value_em


# ---------------------------------------------------------------------------
# Markov removal-effect attribution — absorbing-chain conversion model
# ---------------------------------------------------------------------------

MARKOV_CHANNELS = ["click", "error", "signup", "view"]  # fixed order
MARKOV_ROUNDS = 25


def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution — the data-driven
    model between ``attribution_models_daily``'s heuristics and
    ``shapley_channel_attribution``'s coalitions (Anderl et al. 2014):
    user-day journeys become paths start → touches → conv/null
    (truncated at the first purchase), a first-order transition matrix
    is estimated from exact counts, and each channel's credit is its
    REMOVAL EFFECT — the relative drop in absorbing-conversion
    probability when walks through that channel are lost (its state's
    value pinned to 0).

    Distributed shape: ONE groupBy(user, day) pass builds paths and
    explodes consecutive transitions; the transition matrix is a
    ≤(K+1)×(K+2) fit relation (K={len(MARKOV_CHANNELS)} channels) —
    the only data-sized work at any corpus scale. Absorption
    probabilities iterate {MARKOV_ROUNDS} fixed synchronous rounds
    driver-side (5 scenarios × 5 states of scalar algebra; the
    fixed-round contract makes the value well-defined without a
    convergence test — measured converged to 8dp by ~22 rounds).

    Cross-engine exactness: transition probabilities round 8dp from
    exact integer counts; every iteration value re-rounds 8dp; the
    removal-effect/share epilogue stays RAW doubles (identical ops on
    identical inputs — a 6dp output round here would re-round already-
    8dp-rounded values, the CLAUDE.md chain trap). The oracle unrolls
    all 5 × {MARKOV_ROUNDS} rounds as 1-row CTEs mirroring the exact
    accumulation order."""
    from ..functions.rounding import round_half_up as rhu

    ev = load_table(spark, sf_dir, "events")
    j = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.expr(
            "transform(array_sort(collect_list("
            "struct(ts, event_id, event_type))), x -> x.event_type)"
        ).alias("types")
    )
    chain = F.expr(
        "CASE WHEN array_position(types, 'purchase') > 0 THEN "
        "concat(array('start'), "
        "slice(types, 1, CAST(array_position(types, 'purchase') AS INT) - 1), "
        "array('conv')) "
        "ELSE concat(array('start'), types, array('null')) END"
    )
    pairs = (
        j.select(chain.alias("chain"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(chain) - 1), "
                    "i -> struct(element_at(chain, i) AS src, "
                    "element_at(chain, i + 1) AS dst))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = pairs.collect()  # bounded fit relation: ≤ 5 src × 6 dst
    cnt: dict = {}
    for r in rows:
        cnt.setdefault(r["src"], {})[r["dst"]] = r["n"]
    T = {
        s: {d: rhu(n / sum(ds.values()), 8) for d, n in ds.items()}
        for s, ds in cnt.items()
    }
    states = ["start"] + MARKOV_CHANNELS
    targets = MARKOV_CHANNELS + ["conv", "null"]

    def absorb(removed: str | None) -> float:
        p = {s: 0.0 for s in states}
        for _ in range(MARKOV_ROUNDS):
            nxt = {}
            for s in states:
                tot = 0.0
                for d in targets:
                    t = T.get(s, {}).get(d, 0.0)
                    if d == "conv":
                        v = 1.0
                    elif d == "null" or d == removed:
                        v = 0.0
                    else:
                        v = p[d]
                    tot = tot + t * v
                nxt[s] = rhu(tot, 8)
            p = nxt
        return p["start"]

    full = absorb(None)
    out = []
    removed_p = {c: absorb(c) for c in MARKOV_CHANNELS}
    re_sum = 0.0
    for c in MARKOV_CHANNELS:
        re_sum = re_sum + (1.0 - removed_p[c] / full if full > 0 else 0.0)
    for c in MARKOV_CHANNELS:
        re = 1.0 - removed_p[c] / full if full > 0 else None
        share = re / re_sum if (re is not None and re_sum > 0) else None
        out.append((c, full, removed_p[c], re, share))
    return spark.createDataFrame(
        out,
        "channel string, full_conv_p double, removed_conv_p double, "
        "removal_effect double, attribution_share double",
    ).orderBy("channel")


def _markov_oracle() -> str:
    ch = MARKOV_CHANNELS
    targets = ch + ["conv", "null"]
    states = ["start"] + ch
    t_cols = []
    for s in states:
        for d in targets:
            t_cols.append(
                f"coalesce(max(CASE WHEN src = '{s}' AND dst = '{d}' "
                f"THEN p END), 0.0) AS t_{s}_{d}"
            )
    scen = [("full", None)] + [(c, c) for c in ch]
    chains = []
    for name, removed in scen:
        init = ", ".join(f"CAST(0.0 AS DOUBLE) AS p_{s}" for s in states)
        chains.append(f"sc_{name}_0 AS (SELECT *, {init} FROM tmat)")
        prev = f"sc_{name}_0"
        for r in range(1, MARKOV_ROUNDS + 1):
            upds = []
            for s in states:
                expr = None
                for d in targets:
                    if d == "conv":
                        v = "1.0"
                    elif d == "null" or d == removed:
                        v = "0.0"
                    else:
                        v = f"p_{d}"
                    term = f"t_{s}_{d} * {v}"
                    expr = term if expr is None else f"{expr} + {term}"
                upds.append(f"round({expr}, 8) AS p_{s}")
            excl = ", ".join(f"p_{s}" for s in states)
            chains.append(
                f"sc_{name}_{r} AS MATERIALIZED (SELECT * EXCLUDE ({excl}),"
                f" {', '.join(upds)} FROM {prev})"
            )
            prev = f"sc_{name}_{r}"
    finals = []
    re_terms = " + ".join(
        f"(1.0 - r_{c}.p_start / f.p_start)" for c in ch
    )
    for c in ch:
        finals.append(
            f"SELECT '{c}' AS channel, f.p_start AS full_conv_p,"
            f" r_{c}.p_start AS removed_conv_p,"
            f" CASE WHEN f.p_start > 0"
            f" THEN 1.0 - r_{c}.p_start / f.p_start END AS removal_effect,"
            f" CASE WHEN f.p_start > 0 AND ({re_terms}) > 0"
            f" THEN (1.0 - r_{c}.p_start / f.p_start) / ({re_terms}) END"
            f" AS attribution_share"
            f" FROM sc_full_{MARKOV_ROUNDS} f"
            + "".join(
                f", sc_{x}_{MARKOV_ROUNDS} r_{x}" for x in ch
            )
        )
    return f"""
WITH j AS (
  SELECT list_transform(list_sort(list(
      {{'ts': ts, 'eid': event_id, 'et': event_type}})), x -> x.et) AS types
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
paths AS (
  SELECT CASE WHEN coalesce(list_position(types, 'purchase'), 0) > 0
      THEN list_concat(list_concat(['start'],
        types[1:list_position(types, 'purchase') - 1]), ['conv'])
      ELSE list_concat(list_concat(['start'], types), ['null']) END AS chain
  FROM j
),
counts AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT chain[i] AS src, chain[i + 1] AS dst
    FROM paths, UNNEST(generate_series(1, len(chain) - 1)) u(i)
  ) GROUP BY 1, 2
),
probs AS (
  SELECT src, dst,
    round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src), 8) AS p
  FROM counts
),
tmat AS (
  SELECT {", ".join(t_cols)} FROM probs
),
{",".join(chains)}
SELECT * FROM (
{" UNION ALL ".join(finals)}
) ORDER BY channel
"""


ORACLE["markov_removal_attribution"] = _markov_oracle()
QUERIES["markov_removal_attribution"] = markov_removal_attribution


# ---------------------------------------------------------------------------
# Daily-series periodogram — DFT power at the 30-day grid's frequencies
# ---------------------------------------------------------------------------

PERIODOGRAM_DAYS = 30  # the testdata event span; the literal trig grid size
_TRIG8: dict = {}


def _trig8() -> dict:
    """1e8-scaled 8dp cos/sin literal tables for 2πkt/{PERIODOGRAM_DAYS} —
    precomputed so neither engine runs libm trig in-query (the
    jl_projection literal-matrix precedent)."""
    if not _TRIG8:
        import math

        from ..functions.rounding import round_half_up

        for k in range(1, PERIODOGRAM_DAYS // 2):
            _TRIG8[k] = (
                [
                    int(
                        round_half_up(
                            math.cos(2.0 * math.pi * k * t / PERIODOGRAM_DAYS), 8
                        )
                        * 1e8
                    )
                    for t in range(PERIODOGRAM_DAYS)
                ],
                [
                    int(
                        round_half_up(
                            math.sin(2.0 * math.pi * k * t / PERIODOGRAM_DAYS), 8
                        )
                        * 1e8
                    )
                    for t in range(PERIODOGRAM_DAYS)
                ],
            )
    return _TRIG8


def periodogram_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical periodogram of the daily mean event value: DFT power
    I(f_k) = (a_k² + b_k²)/n at every non-trivial frequency of the
    {PERIODOGRAM_DAYS}-day grid — the frequency-domain companion of
    ``acf_daily_value``/``stl_daily_decomposition`` (a weekly cycle
    shows up as power at period ≈ 7.5 and 6 on a 30-day grid; the
    periodogram is what a pipeline checks before committing to a
    seasonal period). Defined on the exact {PERIODOGRAM_DAYS}-day
    span; if the series has any other length the result is empty by
    contract (the literal grid is span-specific).

    Scale: the data pass is ONE day-grain aggregate; the DFT is 28
    zip_with folds over a 30-element array in a single projection —
    constant work at any corpus size. Cross-engine exactness: daily
    values are 1e4 BIGINTs, trig coefficients are 1e8-scaled 8dp
    literal integers (NO in-query libm trig), so every a_k/b_k is an
    exact BIGINT fold; the power epilogue is identical double algebra
    over those exact integers, emitted raw (no output round — the
    inputs are already exact)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.round(F.avg("value"), 4) * 10000, 0)
        .cast("bigint")
        .alias("v4")
    )
    ser = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, v4))), x -> x.v4)"
        ).alias("vals")
    ).filter(F.size("vals") == PERIODOGRAM_DAYS)
    cols = []
    for k, (cos8, sin8) in _trig8().items():
        carr = "array(" + ", ".join(f"{c}L" for c in cos8) + ")"
        sarr = "array(" + ", ".join(f"{s}L" for s in sin8) + ")"
        for nm, arr in (("a", carr), ("b", sarr)):
            cols.append(
                F.expr(
                    f"aggregate(zip_with(vals, {arr}, (v, c) -> v * c), "
                    f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
                ).alias(f"{nm}{k}")
            )
    folded = ser.select(*cols)
    rows = []
    n = float(PERIODOGRAM_DAYS)
    for k in _trig8():
        a = F.col(f"a{k}").cast("double") / 1e12  # descale 1e4·1e8
        b = F.col(f"b{k}").cast("double") / 1e12
        rows.append(
            F.struct(
                F.lit(k).cast("int").alias("k"),
                (F.lit(float(PERIODOGRAM_DAYS)) / k).alias("period_days"),
                ((a * a + b * b) / F.lit(n)).alias("power"),
            )
        )
    return (
        folded.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.k", "r.period_days", "r.power")
        .orderBy("k")
    )


def _periodogram_oracle() -> str:
    parts = []
    n = float(PERIODOGRAM_DAYS)
    for k, (cos8, sin8) in _trig8().items():
        carr = "[" + ", ".join(f"CAST({c} AS BIGINT)" for c in cos8) + "]"
        sarr = "[" + ", ".join(f"CAST({s} AS BIGINT)" for s in sin8) + "]"
        a = (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(vals, (v, i) -> v * ({carr})[i])), "
            f"(acc, x) -> acc + x)"
        )
        b = (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(vals, (v, i) -> v * ({sarr})[i])), "
            f"(acc, x) -> acc + x)"
        )
        parts.append(
            f"SELECT CAST({k} AS INT) AS k,"
            f" CAST({n!r} AS DOUBLE) / {k} AS period_days,"
            f" (CAST({a} AS DOUBLE) / 1e12 * (CAST({a} AS DOUBLE) / 1e12)"
            f" + CAST({b} AS DOUBLE) / 1e12 * (CAST({b} AS DOUBLE) / 1e12))"
            f" / {n!r} AS power"
            f" FROM ser"
        )
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(round(round(avg(value), 4) * 10000, 0) AS BIGINT) AS v4
  FROM events GROUP BY 1
),
ser AS (
  SELECT list_transform(list_sort(list({{'day': day, 'v4': v4}})),
    x -> x.v4) AS vals
  FROM daily
  HAVING len(list({{'day': day, 'v4': v4}})) = {PERIODOGRAM_DAYS}
)
SELECT * FROM (
{" UNION ALL ".join(parts)}
) ORDER BY k
"""


ORACLE["periodogram_daily_value"] = _periodogram_oracle()
QUERIES["periodogram_daily_value"] = periodogram_daily_value


# ---------------------------------------------------------------------------
# nearest-event temporal alignment (bidirectional as-of)
# ---------------------------------------------------------------------------


def nearest_click_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional as-of alignment: for every purchase, the temporal
    gap to the SAME user's nearest click in EITHER direction — the
    sensor-alignment / feature-join primitive a plain backward ASOF
    (``pit_priority_lookup``) can't express. Emits both directional
    gaps plus the nearer one (ties to backward).

    Plan: ONE merged per-user stream, two RANGE-frame windows over the
    SAME (user, ts) partitioning — no self-join, no per-direction
    re-scan; at 100 TB this is one shuffle of the two event types.
    Determinism: RANGE frames (not ROWS) make same-timestamp peers
    frame-inclusive regardless of intra-timestamp row order, and the
    output carries only TIMESTAMP-level facts (gaps in exact
    microseconds) — never an arbitrarily chosen peer row, so engines
    can't disagree on ties (CLAUDE.md tie rule)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    m = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.when(
            F.col("event_type") == "click", F.unix_micros("ts")
        ).alias("c_us"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(0, Window.unboundedFollowing)
    )
    flagged = m.select(
        "user_id",
        "event_id",
        "event_type",
        "t_us",
        F.max("c_us").over(wb).alias("back_us"),
        F.min("c_us").over(wf).alias("fwd_us"),
    ).filter(F.col("event_type") == "purchase")
    back_gap = F.col("t_us") - F.col("back_us")
    fwd_gap = F.col("fwd_us") - F.col("t_us")
    return flagged.select(
        "user_id",
        "event_id",
        back_gap.alias("back_gap_us"),
        fwd_gap.alias("fwd_gap_us"),
        F.least(
            F.coalesce(back_gap, fwd_gap), F.coalesce(fwd_gap, back_gap)
        ).alias("nearest_gap_us"),
        F.when(
            back_gap.isNotNull()
            & (fwd_gap.isNull() | (back_gap <= fwd_gap)),
            F.lit("backward"),
        )
        .when(fwd_gap.isNotNull(), F.lit("forward"))
        .alias("direction"),
    ).orderBy("user_id", "event_id")


ORACLE["nearest_click_alignment"] = """
WITH m AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us,
    CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS c_us
  FROM events WHERE event_type IN ('click', 'purchase')
),
flagged AS (
  SELECT user_id, event_id, event_type, t_us,
    max(c_us) OVER (PARTITION BY user_id ORDER BY t_us
      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_us,
    min(c_us) OVER (PARTITION BY user_id ORDER BY t_us
      RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_us
  FROM m
)
SELECT user_id, event_id,
  t_us - back_us AS back_gap_us,
  fwd_us - t_us AS fwd_gap_us,
  least(coalesce(t_us - back_us, fwd_us - t_us),
        coalesce(fwd_us - t_us, t_us - back_us)) AS nearest_gap_us,
  CASE WHEN back_us IS NOT NULL
            AND (fwd_us IS NULL OR t_us - back_us <= fwd_us - t_us)
       THEN 'backward'
       WHEN fwd_us IS NOT NULL THEN 'forward' END AS direction
FROM flagged
WHERE event_type = 'purchase'
ORDER BY user_id, event_id
"""
QUERIES["nearest_click_alignment"] = nearest_click_alignment
