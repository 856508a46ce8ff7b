"""Scale-path machinery tests: salted join correctness, bucketed
co-located joins (no Exchange), broadcast-hint plan shape, and
pushdown/pruning assertions on the physical plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_group4_app_spark.functions.skew import salted_join, write_bucketed
from bigdata_group4_app_spark.sources.registry import load_table

from .conftest import SF_SMOKE, jobs_during


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().sparkPlan().toString()


def test_salted_join_matches_plain_join(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = orders.join(cust, "o_custkey").groupBy("c_mktsegment").count()
    salted = (
        salted_join(orders, cust, on="o_custkey")
        .groupBy("c_mktsegment")
        .count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_join_spreads_hot_key(spark):
    # one key owns ~all rows: salting must split it across salt buckets
    hot = spark.range(0, 10_000).select(
        F.lit(7).alias("k"), F.col("id").alias("payload")
    )
    dim = spark.range(0, 10).select(F.col("id").alias("k"), F.lit("d").alias("v"))
    out = salted_join(hot, dim, on="k")
    assert out.count() == 10_000
    # salt distribution on the skewed side is actually spread
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), 8)
    n_buckets = hot.select(salt.alias("s")).distinct().count()
    assert n_buckets > 1


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")
    write_bucketed(orders, "b_orders", "o_custkey", n_buckets=8)
    write_bucketed(
        cust.select(F.col("c_custkey").alias("o_custkey"), "c_acctbal"),
        "b_customer",
        "o_custkey",
        n_buckets=8,
    )
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_customer").hint("merge"), "o_custkey"
        )
        plan = _optimized_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # sanity: same row count as the unbucketed join
        assert joined.count() == orders.join(
            cust.select(F.col("c_custkey").alias("o_custkey")), "o_custkey"
        ).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_broadcast_hint_avoids_shuffle_of_fact_side(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    plan = _optimized_plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scan_pushdown_and_pruning(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = _physical_plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" in plan
    # column pruning: scan reads exactly the two referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_partitioned_write_prunes_at_scan(spark, tmp_path):
    """Hive-partitioned parquet sink: a filter on the partition column must
    prune directories at planning time (PartitionFilters), not scan-and-
    filter — the difference between reading 1/5th and all of 100 TB."""
    ev = load_table(spark, SF_SMOKE, "events")
    out = str(tmp_path / "events_by_type")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)

    q = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    plan = _physical_plan(q)
    assert "PartitionFilters: [isnotnull(event_type" in plan, plan
    n = q.count()
    want = ev.filter(F.col("event_type") == "purchase").count()
    assert n == want


def test_attribution_band_join_stays_equi_join(spark):
    """The bucketed-band range join must plan as a hash/sort-merge join on
    (user_id, bucket) — never a nested-loop over the inequality — and its
    result must equal the naive inequality join."""
    from bigdata_group4_app_spark.operators.advanced import (
        ATTRIB_WINDOW_US,
        attribution_window_join,
    )

    df = attribution_window_join(spark, SF_SMOKE)
    plan = _physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    c = ev.filter(F.col("event_type") == "click").alias("c")
    naive = (
        p.join(
            c,
            (F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("c.us") >= F.col("p.us") - ATTRIB_WINDOW_US)
            & (F.col("c.us") < F.col("p.us")),
        )
        .groupBy("p.event_id")
        .agg(F.count(F.lit(1)).alias("n_clicks_1h"))
    )
    got = {(r["event_id"], r["n_clicks_1h"]) for r in df.collect()}
    want = {(r["event_id"], r["n_clicks_1h"]) for r in naive.collect()}
    assert got == want


def test_scd2_build_is_single_data_shuffle(spark):
    """The SCD2 build's repartition on custkey must satisfy BOTH the
    daily-grain aggregate and the window chain: exactly ONE explicit
    data Exchange in the pre-EnsureRequirements plan (the presentation
    sort's range exchange is added later and is not data-motion the
    operator owns)."""
    from bigdata_group4_app_spark.operators.advanced import (
        scd2_priority_history,
    )

    plan = _optimized_plan(scd2_priority_history(spark, SF_SMOKE))
    assert plan.count("Exchange") == 1, plan


def test_basket_pairs_has_no_join(spark):
    """Pair mining must be the map-side explosion plan — no self-join
    operator anywhere in the physical plan."""
    from bigdata_group4_app_spark.operators.relational import basket_pairs

    plan = _physical_plan(basket_pairs(spark, SF_SMOKE))
    assert "Join" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


# Queries where a BroadcastNestedLoopJoin is the DESIGNED plan: a tiny
# broadcast side (1-row aggregate total, KDE evaluation grid, broadcast
# query/needle set) joined without an equi-key. Bounded by construction —
# the broadcast relation is O(constant), never fact-sized.
_INTENTIONAL_BNLJ = {
    # broadcast tiny query set x corpus stream (knn_brute_force shape)
    "mips_norm_pruning_audit",
    "ndcg_retrieval_eval",
    # 1-row Bloom bit-array relation broadcast onto the fact scan
    "bloom_prefiltered_revenue",
    # 1-row global max / (sum, count) / total relations broadcast onto
    # the aggregate view (TPC-H Q15 / Q22 / Q11 shapes)
    "top_revenue_supplier",
    "dormant_rich_customers",
    "concentrated_part_values",
    # two 1-row sweep-aggregate relations cross-joined before the unpivot
    # (plus the inherited SemDeDup broadcast-centroid loop)
    "semantic_threshold_sweep",
    # 1-row Gaussian-NB fit relation (class means/vars) broadcast back
    # onto the feature rows
    "gaussian_nb_churn",
    # 1-row basket-count total broadcast onto the min-support-filtered
    # rule relation
    "association_rules",
    "heavy_hitters",
    "vocab_coverage",
    "tfidf_top_terms",
    "knn_brute_force",
    "knn_ivf",
    "customer_year_sets",
    "age_kde",
    "ngram_lm_perplexity",
    "kmv_user_overlap",
    # 16 probes × 64 simulated file envelopes, both broadcast-tiny
    "layout_skipping_compare",
    # 1-row (P-1)-boundary array broadcast onto the fact scan
    "range_partition_balance_audit",
    # 1-row rate-based support threshold broadcast into the
    # edge-admission filter (in-plan form of the oracle's scalar
    # subquery — round 10)
    "ra_link_prediction_scaled",
    # 1-row in-plan N broadcast onto the PMI pair relation (the oracle's
    # CROSS JOIN n scalar — round 10, replaced an eager count)
    "pmi_word_pairs",
    # 1-row in-plan Σg total broadcast onto the QI cells (round 10,
    # replaced an eager count)
    "t_closeness_profile",
    # 1-row in-plan ceil(N/10) bucket width broadcast onto the trigram
    # explode (round 10, replaced an eager count)
    "vocab_growth_curve",
    # 1-row count relation broadcast onto the d² covariance cells
    "embedding_covariance",
    # 1-row max-day bounds relation broadcast onto the (user, day) pairs
    "dau_wau_stickiness",
    # 1-row cutoff relation broadcast onto the fact scan
    "mv_delta_maintenance",
    # 1-row stats × 1-row triangle-count summary join
    "copurchase_triangles",
    # 1-row chosen-split relation broadcast back onto the scan (CART
    # routing) — the split is O(1) by construction
    "cart_churn_tree",
    # 1-row per-tree accumulator relation broadcast back onto the scan
    # (same CART routing shape, once per forest member)
    "rf_churn_oob",
    # three 1-row funnel-stage summaries cross-joined at the end, plus
    # the inherited SemDeDup broadcast-centroid loop
    "corpus_semantic_pipeline",
    # 1-row (n_total, n1_total) relation broadcast onto the ≤73-row
    # tenure-grain risk table (kaplan_meier shape)
    "logrank_contract_test",
    # 1-row normal-matrix (YtY + lambda*I) broadcast onto the per-user
    # right-hand sides
    "als_user_factors",
    # broadcast tiny query set x corpus stream (knn_brute_force shape)
    "matryoshka_dim_audit",
    # 1-row bigram-type total broadcast onto the vocab-bounded LM table
    "kneser_ney_perplexity",
    # two 1-row sketch/exact summaries joined keylessly
    "ams_f2_sketch",
    # broadcast tiny query set × corpus stream (same shape as knn_brute_force)
    "knn_jl_projected",
    # broadcast k×d centroid table × corpus stream per Lloyd round
    "kmeans_fit_centroids",
    # same broadcast centroid table, re-ranked for the 2-probe expansion
    "semantic_dedup_pairs",
    # the k∝N production twin — same broadcast-centroid loop
    "semantic_dedup_pairs_scaled",
    # broadcast 1-row dense query vector × corpus stream (knn shape)
    "rrf_hybrid_search",
    # broadcast centroid/codebook row × corpus stream (kmeans shape)
    "cluster_balanced_sample",
    "pq_codebook_audit",
    # broadcast centroid + codebook rows × corpus stream (IVF-PQ encode)
    "knn_ivfpq",
    # 1-row corpus-total relation broadcast onto the 256-bucket stats
    "dsir_importance_select",
    # 1-row global-mean relation broadcast onto the per-user screen
    "bh_fdr_user_deviations",
    # 1-row date-span / 16-row v-table / 4-row channel relation joins
    "shapley_channel_attribution",
    # 1-row frequency-derived weight relation broadcast onto blocked pairs
    "fs_linkage_scores",
    # vocab-bounded global-count × 5-row lang-total broadcast grid
    "js_divergence_lang_mix",
    # 5-row lang model / 1-row vocab totals broadcast onto holdout tokens
    "nb_lang_confusion",
    # non-equi range joins over the fixed 10-row calibration bin relation
    "isotonic_calibration",
    # broadcast 1-row n_cal / qhat threshold onto the scored stream
    "conformal_churn_sets",
    # broadcast vocab-sized cumulative table × constant 64-dart relation
    "negative_sampling_table",
    # 1-row Σ N_h·S_h normalizer broadcast onto the strata rows
    "neyman_allocation",
    # 1-row decile-edge / ref-week relations broadcast onto the stream
    "psi_value_drift",
    # 1-row corpus count × 1-row funnel summary join
    "corpus_dedup_pipeline",
    # 1-row max-event-id bounds relation broadcast onto the stream
    "watermark_sizing_stats",
    # 1-row observed-t / 1-row n_users summaries joined keylessly onto
    # the B-row replica statistics
    "permutation_test_value",
    # 1-row quartile-threshold relation broadcast onto the doc scores
    "perplexity_quality_filter",
    # four 1-row summary relations (members/bits/probes/fp counts) folded
    "bloom_filter_fpr_audit",
    # 1-row query vector × corpus stream, then 12-row candidate pool self-pairs
    "mmr_diverse_topk",
    # 1-row mean / theta relations broadcast onto calendar/user-sized streams
    "acf_daily_value",
    "cuped_adjusted_ab",
    # 1-row (n_docs, avgdl) stats relation broadcast onto the postings
    "bm25_search",
    # 1-row customer-total relation broadcast onto the tenure event table
    "kaplan_meier_churn",
    # same 1-row n_total broadcast as kaplan_meier_churn
    "nelson_aalen_hazard",
}


@pytest.fixture(scope="module")
def audited_queries(spark):
    """ONE shared construction pass for the three engine-wide audits
    (round 11, VERDICT r10 item 7): each registered query is
    constructed once under a job group (construction-job counting) and
    the returned DataFrame is shared, so Catalyst's analysis/
    optimization — lazy vals cached on the QueryExecution — runs once
    per query instead of once per audit. Before the fusion the three
    audits re-constructed and re-optimized all ~309 queries each
    (~107 s + ~97 s + ~63 s in the r11 profile); after it the cost is
    paid once."""
    from bigdata_group4_app_spark.registry import QUERY_REGISTRY

    out: dict[str, tuple] = {}
    for name, fn in QUERY_REGISTRY.items():
        df, jobs = jobs_during(
            spark, lambda: fn(spark, SF_SMOKE), f"audit-construct-{name}"
        )
        out[name] = (df, len(jobs))
    return out


def test_no_query_plans_python_row_udfs_or_cartesian(audited_queries):
    """Engine-wide plan audit over EVERY registered query: no
    row-at-a-time Python UDF (BatchEvalPython — the 10-100x-slower path;
    Arrow-batched MapInPandas/FlatMapGroupsInPandas are the sanctioned
    Python boundary), no CartesianProduct, and BroadcastNestedLoopJoin
    only where a constant-size broadcast side makes it the right plan."""
    offenders: dict[str, list[str]] = {}
    for name, (df, _jobs) in audited_queries.items():
        plan = _optimized_plan(df)
        bad = [k for k in ("BatchEvalPython", "CartesianProduct") if k in plan]
        if "BroadcastNestedLoopJoin" in plan and name not in _INTENTIONAL_BNLJ:
            bad.append("BroadcastNestedLoopJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


# Queries allowed to plan a row-level no-partition-key Window (a global
# one-reducer sort over un-reduced rows). Everything else must rank via
# an Aggregate-reduced relation, a WindowGroupLimit-pruned top-k, or the
# shared distributed two-pass rank (functions/ranking.py) — VERDICT r9
# item 3.
_INTENTIONAL_GLOBAL_WINDOW = {
    # the deliberate global-window twin of spend_equidepth_bins_dist:
    # it IS the oracle-contract form the distributed rank is proven
    # against (bit-equal at two SFs); runs on the customer dimension
    "spend_equidepth_bins",
    # final hub/authority ranks over the trade-network NODE relation —
    # bounded by the nation dimension (≤25 rows) by construction; the
    # iterative gathers themselves are edge-keyed shuffles
    "hits_hub_authority",
    # the three global row_numbers ARE the simulation's stand-in for
    # the writer's range partitioner (docstring: a real writer
    # sample-splits via repartitionByRange; the simulated 64-file
    # assignment needs the exact insertion/sorted/z orders)
    "layout_skipping_compare",
}


def test_no_row_level_global_window(audited_queries):
    """Engine-wide plan audit (VERDICT r9 item 3): no registered query
    may plan a Window with an EMPTY partitionSpec directly over
    un-reduced rows — that is a one-reducer global sort that grows with
    the corpus. Benign forms: the window input is already reduced by an
    Aggregate (bounded bucket/cell/day-grain relations), pruned by a
    WindowGroupLimit (row_number + literal top-k filter), or bounded by
    a GlobalLimit. Whitelisted exceptions carry per-name justification
    above."""
    benign = ("Aggregate", "WindowGroupLimit", "GlobalLimit")

    def reduced_below(node) -> bool:
        nm = node.getClass().getSimpleName()
        if nm in benign:
            return True
        # cache/checkpoint boundaries hide their subtree — conservative:
        # NOT reduced (a whitelisted query must justify itself)
        if nm in ("InMemoryRelation", "LogicalRDD"):
            return False
        return any(
            reduced_below(node.children().apply(i))
            for i in range(node.children().size())
        )

    def row_level_global_windows(df) -> list:
        out = []

        def walk(node):
            if (
                node.getClass().getSimpleName() == "Window"
                and node.partitionSpec().isEmpty()
                and not reduced_below(node.child())
            ):
                out.append(node.windowExpressions().mkString(",")[:60])
            for i in range(node.children().size()):
                walk(node.children().apply(i))

        walk(df._jdf.queryExecution().optimizedPlan())
        return out

    offenders: dict[str, list] = {}
    for name, (df, _jobs) in audited_queries.items():
        if name in _INTENTIONAL_GLOBAL_WINDOW:
            continue
        found = row_level_global_windows(df)
        if found:
            offenders[name] = found
    assert not offenders, offenders


# Queries allowed to run Spark jobs at QUERY-CONSTRUCTION time (round
# 10, the ra_link_prediction_scaled lazy-construction rule extended
# engine-wide). Two legitimate classes — anything NOT in one of them
# must construct lazily (plan-only consumers like plan audits, EXPLAIN
# dossiers and bench assembly pay every construction job):
#
# (a) ITERATIVE FITS: a driver-side loop with per-round localCheckpoint
#     IS the algorithm (Lloyd, PageRank/HITS/CC/label-prop, GD/EM/power
#     iteration, BPE merge rounds) — construction executes the fit and
#     the returned DataFrame is the readout over the fitted state;
# (b) EAGER MATERIALIZATION KEPT DELIBERATELY: round 10 converted the
#     shared-subtree checkpoints of 18 NON-iterative queries (shingle
#     relations, signature/edge sets, windowed minima) to
#     construction-lazy persist() — measured equal-or-faster
#     (simhash 1.64→1.32 s, minhash_lsh 1.74→1.30 s at sf0.1) — and
#     moved the last eager scalar counts in-plan (pmi_word_pairs'
#     N, t_closeness_profile's Σg, vocab_growth_curve's bucket
#     width). What remains here: layout_skipping_compare (the chunk
#     size is a Python int inside three simulation rank expressions,
#     riding on the eagerly checkpointed dims relation) and
#     binary_asset_profile (the 1-job fixture parquet read).
#
# NOT allowed (and absent): deriving a SCALAR (threshold, k, total) via
# an eager count()/collect() that could be a 1-row in-plan aggregate —
# the class VERDICT r9 flagged on ra_link_prediction_scaled and round
# 10 removed there and in conformal_churn_sets.
_CONSTRUCTION_EXECUTING = {
    # (a) iterative fits / driver-loop algorithms
    "trade_network_pagerank",
    "hits_hub_authority",
    "kcore_parts",
    "label_propagation_communities",
    "bfs_distance_histogram",
    "near_dup_clusters",
    "near_dup_survivors",
    "corpus_dedup_pipeline",
    "dedup_cluster_size_histogram",
    "multimodal_dup_clusters",
    "kmeans_fit_centroids",
    "knn_ivf",
    "semantic_dedup_pairs",
    "semantic_dedup_pairs_scaled",
    "semantic_dedup_survivors",
    "semantic_threshold_sweep",
    "cluster_balanced_sample",
    "corpus_semantic_pipeline",
    "pq_codebook_audit",
    "knn_ivfpq",
    "knn_graph_nndescent",
    "pca_power_iteration",
    "logreg_churn_gd",
    "gbdt_churn_stumps",
    "elastic_net_churn_path",
    "rf_churn_oob",
    "gmm2_value_em",
    "huber_spend_model",
    "cox_churn_hazard",
    "dbscan_density_census",
    "holt_winters_daily",
    "ewma_control_chart",
    "pacf_daily_value",
    "markov_removal_attribution",
    "shapley_channel_attribution",
    "bpe_encode_stats",
    "bpe_fertility_hist",
    "pack_shards_bpe",
    "textrank_keywords",
    "mmr_diverse_topk",
    "isotonic_calibration",
    "histogram_quantile_audit",
    # (b) deliberate eager materialization (see the class comment)
    "layout_skipping_compare",
    "binary_asset_profile",
    # one-time fixture-store build (round 11): the snapshot-catalog
    # queries commit a deterministic two-version catalog under /tmp on
    # FIRST construction (the binary_asset_profile precedent, writer
    # side); once both manifests exist construction is zero-job
    "corpus_snapshot_diff_versions",
    "snapshot_catalog_read",
    "catalog_incremental_diff",
    "catalog_zonemap_prune",
    # round-12 members of the same gated fixture build: schema
    # evolution adds snapshot C (one partitioned rewrite of the dirty
    # buckets), the takedown read adds snapshot D (one zone-map-pruned
    # COW delete); both only while the snapshot is absent. Steady
    # state, the snapshot readers also pay ONE parallel file-listing
    # job (>32 manifest paths trips
    # spark.sql.sources.parallelPartitionDiscovery.threshold) — a
    # driver-side listing, not a compute job
    "catalog_schema_evolution_read",
    "catalog_takedown_read",
    "catalog_bloom_point_lookup",
    # round-13 members of the same gated fixture build: the MOR-delete
    # read adds snapshot F (one O(keys) delete-file write + count, only
    # while F is absent), the time-travel read resolves AS-OF from
    # manifests (driver-side) but shares the fixture ensure + pays the
    # same one-time parallel-listing job as the other snapshot readers
    "catalog_mor_delete_read",
    "catalog_time_travel_read",
    # round-13 WAP fixture: its OWN gated one-time build (separate
    # catalog — the main fixture's readers pin ids into that history,
    # WAP moves the main ref): base/staged segment writes + the audit
    # anti-join count, only while the refs are absent; steady state is
    # zero-job (2 segment paths — under the parallel-listing threshold)
    "catalog_wap_publish_read",
    # round-13: shares the gated fixture ensure (snapshot G itself is a
    # zero-job manifest+stat-file relocation, but first construction
    # may run the whole fixture build) + the pruned read is a handful
    # of paths (no listing job)
    "catalog_bloom_sidecar_lookup",
    # round-13: its OWN gated two-snapshot fixture (sorted single-file
    # archive + position-delete commit), eager only while absent
    "catalog_position_delete_read",
}


def test_construction_jobs_only_where_allowed(audited_queries):
    """Engine-wide lazy-construction audit: constructing a registered
    query must trigger ZERO Spark jobs unless the query is in the
    documented construction-executing allowlist (iterative fits and
    eager shared-subtree checkpoints). Catches the eager-scalar
    anti-pattern (a count()/collect() at construction whose value could
    be a 1-row in-plan aggregate) the moment it is introduced. Job
    counts come from the shared audit pass (one job group per query)."""
    offenders: dict[str, int] = {}
    for name, (_df, jobs) in audited_queries.items():
        if name in _CONSTRUCTION_EXECUTING:
            continue
        if jobs:
            offenders[name] = jobs
    assert not offenders, (
        "queries running jobs at construction outside the allowlist: "
        f"{offenders}"
    )


def test_embedding_dup_pairs_plan_is_map_only(spark):
    """The chunked block-grid must stay a single map-only stage: one
    parquet scan feeding MapInPandas — no Exchange (shuffle), no join,
    no broadcast anywhere in the plan (VERDICT r2 item 8)."""
    from bigdata_group4_app_spark.operators.dedup import embedding_dup_pairs

    plan = _optimized_plan(
        embedding_dup_pairs(spark, SF_SMOKE).limit(1)
    )
    # the final orderBy is presentation; everything upstream of it must
    # be shuffle-free
    upstream = plan.split("Sort", 1)[-1]
    assert "MapInPandas" in plan
    for bad in ("Join", "BroadcastExchange"):
        assert bad not in upstream, plan


def test_knn_ivf_fit_is_sampled_and_collect_free(spark):
    """knn_ivf's quantizer (round-8 rewrite) fits in-engine on the
    deterministic vec_id % IVF_FIT_MOD sample — no driver-side collect
    of corpus vectors at all (the r2 bounded-collect concern is gone
    entirely), and the fit set shrinks 1/IVF_FIT_MOD so the Lloyd
    rounds never scan the full corpus."""
    import inspect

    from bigdata_group4_app_spark.operators import similarity

    src = inspect.getsource(similarity.knn_ivf)
    assert ".collect()" not in src
    assert "% IVF_FIT_MOD == 0" in src
    # and the oracle replays the identical sample + fixed-point fit
    from bigdata_group4_app_spark import registry

    sql = registry.ORACLE_REGISTRY["knn_ivf"]
    assert f"% {similarity.IVF_FIT_MOD} = 0" in sql
    assert "round(avg(l.x), 6)" in sql


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark):
    """Spark's runtime bloom-filter injection — the 100 TB lever that
    drops most of a fact table's shuffle when the other side is
    selective — must fire for the selective-orders ⋈ lineitem shape
    (bloom_filter_agg on the creation side, might_contain on the probe)
    and must not change the result."""
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")

    def shape():
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT")
        return (
            sel.join(li, sel.o_orderkey == li.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = shape()._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
        filtered = shape().collect()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert [tuple(r) for r in filtered] == [tuple(r) for r in shape().collect()]
