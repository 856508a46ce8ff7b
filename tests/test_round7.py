"""Round-7 regression tests.

1. ``corpus_semantic_pipeline`` replay: the one-row funnel summary must
   be reproducible driver-side from the STAGE OPERATORS it composes
   (``near_dup_clusters``, ``_semantic_clusters``, the shared quality
   column) — the funnel can't silently drift from its building blocks.
2. Funnel prefix consistency: the exact+near-dup counters must equal
   ``corpus_dedup_pipeline``'s (same first two stages, same numbers).
3. ``_star_components`` convergence is an EXACT set-equality test now
   (round-7 ADVICE): pin the fixpoint on an adversarial chain graph.
"""

from __future__ import annotations

from collections import defaultdict

from .conftest import SF_CORRECT


def _python_survivors(members: dict, quality: dict) -> set:
    """Per cluster keep (max quality, then min doc_id); singletons
    survive trivially."""
    keep = set()
    for mem in members.values():
        keep.add(min(mem, key=lambda d: (-quality[d], d)))
    return keep


def test_corpus_semantic_pipeline_replays_from_stage_operators(spark):
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.operators.dedup import near_dup_clusters
    from bigdata_group4_app_spark.operators.similarity import (
        _semantic_clusters,
        corpus_semantic_pipeline,
    )
    from bigdata_group4_app_spark.operators.text import quality_score_col
    from bigdata_group4_app_spark.sources.registry import load_table

    row = corpus_semantic_pipeline(spark, SF_CORRECT).collect()[0]

    docs = load_table(spark, SF_CORRECT, "documents").withColumn(
        "toks", F.split(F.trim(F.col("text")), r"\s+")
    )
    base = docs.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        quality_score_col().alias("quality"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
    ).collect()
    quality = {r["doc_id"]: r["quality"] for r in base}
    n_toks = {r["doc_id"]: r["n_toks"] for r in base}

    # stage 1: exact dedup — min doc_id per fingerprint
    by_fp = defaultdict(list)
    for r in base:
        by_fp[r["fp"]].append(r["doc_id"])
    kept = {min(v) for v in by_fp.values()}
    assert row["n_docs"] == len(base)
    assert row["n_canonical"] == len(kept)

    # stage 2: near-dup collapse among kept docs (cluster members that
    # were exact-dropped just don't participate)
    mh = defaultdict(set)
    for r in near_dup_clusters(spark, SF_CORRECT).collect():
        if r["doc_id"] in kept:
            mh[r["cluster_id"]].add(r["doc_id"])
    clustered = set().union(*mh.values()) if mh else set()
    surv1 = (kept - clustered) | _python_survivors(mh, quality)
    assert row["n_neardup_dropped"] == len(kept) - len(surv1)

    # stage 3: semantic collapse among stage-2 survivors
    sem = defaultdict(set)
    for r in _semantic_clusters(spark, SF_CORRECT).collect():
        if r["doc_id"] in surv1:
            sem[r["cluster_id"]].add(r["doc_id"])
    sclustered = set().union(*sem.values()) if sem else set()
    surv2 = (surv1 - sclustered) | _python_survivors(sem, quality)
    assert row["n_semantic_dropped"] == len(surv1) - len(surv2)

    # stage 4: quality gate + token budget
    clean = {d for d in surv2 if quality[d] >= 0.5}
    assert row["n_final_clean"] == len(clean)
    assert row["clean_tokens"] == sum(n_toks[d] for d in clean)

    # the funnel must actually bite at sf0.01: every stage nonzero
    assert row["n_neardup_dropped"] > 0
    assert row["n_semantic_dropped"] > 0
    assert 0 < row["n_final_clean"] < row["n_canonical"]

    # prefix consistency vs the two-stage pipeline (suite-wall fold,
    # round 12: this block reuses `row` instead of re-running the
    # expensive semantic pipeline in its own test — same assertions)
    from bigdata_group4_app_spark.operators.dedup import (
        corpus_dedup_pipeline,
    )

    a = corpus_dedup_pipeline(spark, SF_CORRECT).collect()[0]
    assert a["n_docs"] == row["n_docs"]
    assert a["n_canonical"] == row["n_canonical"]
    assert a["n_neardup_dropped"] == row["n_neardup_dropped"]
    # the semantic stage can only REMOVE docs from the clean set
    assert row["n_final_clean"] <= a["n_final_clean"]
    assert row["clean_tokens"] <= a["clean_tokens"]


def test_star_components_exact_fixpoint_on_chain(spark):
    """A pure chain 0-1-2-...-9 (worst case for min-label travel) plus
    a disjoint triangle: every node must land on its component min.
    Guards the round-7 convergence rewrite (exact exceptAll equality
    instead of checksums)."""
    from bigdata_group4_app_spark.operators.dedup import _star_components

    chain = [(i, i + 1) for i in range(9)]
    tri = [(100, 101), (101, 102), (100, 102)]
    edges = chain + tri
    df = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "doc_id_1 long, doc_id_2 long"
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in _star_components(df).collect()
    }
    want = {(i, 0) for i in range(10)} | {(i, 100) for i in (100, 101, 102)}
    assert got == want


def test_logrank_internal_consistency(spark):
    """χ² must reconstruct from the emitted O/E/V at the 4dp grain, p
    and HR must be in-range, and the Monthly observed-event count must
    not exceed the total churned population."""
    from bigdata_group4_app_spark.operators.stats import (
        logrank_contract_test,
    )
    from bigdata_group4_app_spark.plans.churn import churn_customers
    from pyspark.sql import functions as F

    r = logrank_contract_test(spark, SF_CORRECT).collect()[0]
    assert r["variance"] > 0 and r["n_event_times"] > 0
    recon = (r["o1_events"] - r["e1_expected"]) ** 2 / r["variance"]
    assert abs(r["chi2_logrank"] - recon) < 1e-2  # rounded inputs
    assert 0.0 <= r["p_value"] <= 1.0
    assert r["hazard_ratio"] > 0
    total_churned_monthly = (
        churn_customers(spark, SF_CORRECT)
        .filter(
            (F.col("Churn") == 1)
            & (F.col("Contract Length") == "Monthly")
        )
        .count()
    )
    assert r["o1_events"] == total_churned_monthly


def test_als_factors_replay_exact(spark):
    """Exact integer replay of the closed-form rank-2 ridge solve for
    every user — the Y init, normal matrix, and Cramer divisions
    re-derived driver-side from raw event counts."""
    import hashlib
    from collections import Counter

    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.operators.advanced import (
        ALS_LAMBDA,
        als_user_factors,
    )
    from bigdata_group4_app_spark.sources.registry import load_table

    def md5i(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    ev = load_table(spark, SF_CORRECT, "events").select(
        "user_id", "event_type"
    ).collect()
    cnt = Counter((r["user_id"], r["event_type"]) for r in ev)
    types = sorted({t for _, t in cnt})
    y = {
        t: (md5i(f"als-f1:{t}") % 19 - 9, md5i(f"als-f2:{t}") % 19 - 9)
        for t in types
    }
    a11 = sum(v[0] * v[0] for v in y.values()) + ALS_LAMBDA
    a12 = sum(v[0] * v[1] for v in y.values())
    a22 = sum(v[1] * v[1] for v in y.values()) + ALS_LAMBDA
    det = a11 * a22 - a12 * a12
    got = als_user_factors(spark, SF_CORRECT).collect()
    assert len(got) > 0
    for r in got:
        u = r["user_id"]
        b1 = sum(y[t][0] * c for (uu, t), c in cnt.items() if uu == u)
        b2 = sum(y[t][1] * c for (uu, t), c in cnt.items() if uu == u)
        x1 = int(round_half_up((a22 * b1 - a12 * b2) * 10000 / det, 0))
        x2 = int(round_half_up((a11 * b2 - a12 * b1) * 10000 / det, 0))
        assert r["factor_1"] == x1 / 10000.0, (u, r["factor_1"], x1)
        assert r["factor_2"] == x2 / 10000.0


def test_kcore_property(spark):
    """Every emitted node's within-core degree must be >= K (the
    defining k-core property), and the core must be non-trivial at
    sf0.01 (measured: 935 nodes)."""
    from bigdata_group4_app_spark.operators.graph import (
        KCORE_K,
        kcore_parts,
    )

    rows = kcore_parts(spark, SF_CORRECT).collect()
    assert len(rows) > 0
    assert all(r["core_degree"] >= KCORE_K for r in rows)


def test_big_ticket_and_small_lot_invariants(spark):
    from bigdata_group4_app_spark.operators.relational import (
        BIG_TICKET_MIN_QTY,
        big_ticket_orders,
        small_lot_brand_revenue,
    )

    bt = big_ticket_orders(spark, SF_CORRECT).collect()
    assert 0 < len(bt) <= 20
    qtys = [r["total_qty"] for r in bt]
    assert qtys == sorted(qtys, reverse=True)
    assert all(q >= BIG_TICKET_MIN_QTY for q in qtys)

    sl = small_lot_brand_revenue(spark, SF_CORRECT).collect()
    assert len(sl) > 0
    assert all(
        r["n_small_lots"] > 0 and r["small_lot_revenue"] > 0 for r in sl
    )


def test_matryoshka_recall_bounds(spark):
    from bigdata_group4_app_spark.operators.similarity import (
        TOP_K,
        matryoshka_dim_audit,
    )

    rows = matryoshka_dim_audit(spark, SF_CORRECT).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["n_overlap"] <= TOP_K
        assert r["recall_at_k"] == round(r["n_overlap"] / TOP_K, 4)
        assert r["worst_prefix_rank"] >= 1
    # the truncation must be lossy-but-useful at sf0.01: strictly
    # between zero and perfect recall somewhere
    assert any(0 < r["n_overlap"] < TOP_K for r in rows)


def test_temperature_mix_budget_neutral(spark):
    """Temperature shares sum to 1 and the allocation is budget-neutral
    (Σ share·T == T ⟺ Σ epochs·n_tokens ≈ T); low-resource languages
    must get epochs > raw (the whole point of α < 1)."""
    from bigdata_group4_app_spark.operators.corpus import (
        temperature_mix_allocation,
    )

    rows = temperature_mix_allocation(spark, SF_CORRECT).collect()
    assert abs(sum(r["temp_share"] for r in rows) - 1.0) < 5e-3
    t = sum(r["n_tokens"] for r in rows)
    budget = sum(r["epochs_at_budget"] * r["n_tokens"] for r in rows)
    assert abs(budget - t) / t < 5e-3
    smallest = min(rows, key=lambda r: r["n_tokens"])
    largest = max(rows, key=lambda r: r["n_tokens"])
    if smallest["n_tokens"] < largest["n_tokens"]:
        assert (
            smallest["epochs_at_budget"] >= largest["epochs_at_budget"]
        )


# ---------------------------------------------------------------------------
# batch 2: TPC-H shapes + stats/ML operators
# ---------------------------------------------------------------------------


def test_waiting_suppliers_matches_exists_replay(spark):
    """The one-pass window rewrite must equal a driver-side replay of
    the textbook EXISTS/NOT-EXISTS semantics."""
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.operators.relational import (
        WAITING_LATE_DAYS,
        waiting_suppliers,
    )
    from bigdata_group4_app_spark.sources.registry import load_table

    got = {
        (r["s_name"], r["numwait"])
        for r in waiting_suppliers(spark, SF_CORRECT).collect()
    }

    li = load_table(spark, SF_CORRECT, "lineitem")
    orders = load_table(spark, SF_CORRECT, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    rows = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate")
        .collect()
    )
    per = defaultdict(lambda: defaultdict(int))
    for r in rows:
        late = (r["l_shipdate"] - r["o_orderdate"]).days > WAITING_LATE_DAYS or (
            (r["l_shipdate"] - r["o_orderdate"]).days == WAITING_LATE_DAYS
            and (r["l_shipdate"] - r["o_orderdate"]).seconds > 0
        )
        cur = per[r["l_orderkey"]][r["l_suppkey"]]
        per[r["l_orderkey"]][r["l_suppkey"]] = max(cur, int(late))
    waits = defaultdict(int)
    for okey, supps in per.items():
        lates = [s for s, l in supps.items() if l]
        if len(supps) > 1 and len(lates) == 1:
            waits[lates[0]] += 1
    supp_names = {
        r["s_suppkey"]: r["s_name"]
        for r in load_table(spark, SF_CORRECT, "supplier").collect()
    }
    expect = sorted(
        ((supp_names[s], n) for s, n in waits.items()),
        key=lambda t: (-t[1], t[0]),
    )[:25]
    assert got == set(expect)


def test_customer_order_histogram_conserves_customers(spark):
    from bigdata_group4_app_spark.operators.relational import (
        customer_order_histogram,
    )
    from bigdata_group4_app_spark.sources.registry import load_table

    rows = customer_order_histogram(spark, SF_CORRECT).collect()
    n_cust = load_table(spark, SF_CORRECT, "customer").count()
    n_orders = load_table(spark, SF_CORRECT, "orders").count()
    assert sum(r["custdist"] for r in rows) == n_cust
    assert sum(r["c_count"] * r["custdist"] for r in rows) == n_orders


def test_brand_market_share_bounds_and_denominator(spark):
    from bigdata_group4_app_spark.ml.scoring import F  # noqa: F401
    from bigdata_group4_app_spark.operators.relational import (
        brand_market_share,
    )

    rows = brand_market_share(spark, SF_CORRECT).collect()
    assert rows, "region must have volume"
    for r in rows:
        assert 0.0 <= r["mkt_share"] <= 1.0
        assert r["brand_volume"] <= r["total_volume"]


def test_nation_trade_volume_directions_disjoint(spark):
    from bigdata_group4_app_spark.operators.relational import (
        TRADE_NATION_A,
        TRADE_NATION_B,
        nation_trade_volume,
    )

    rows = nation_trade_volume(spark, SF_CORRECT).collect()
    assert rows
    dirs = {(r["supp_nation"], r["cust_nation"]) for r in rows}
    assert dirs <= {
        (TRADE_NATION_A, TRADE_NATION_B),
        (TRADE_NATION_B, TRADE_NATION_A),
    }
    assert all(r["volume"] > 0 and r["n_lines"] > 0 for r in rows)


def test_kruskal_wallis_matches_scipy_formula_replay(spark):
    """Replay H from raw values driver-side with exact midranks."""
    from bigdata_group4_app_spark.operators.stats import (
        KW_EVENT_TYPES,
        kruskal_wallis_value_test,
    )
    from bigdata_group4_app_spark.sources.registry import load_table

    row = kruskal_wallis_value_test(spark, SF_CORRECT).collect()[0]
    ev = (
        load_table(spark, SF_CORRECT, "events")
        .select("event_type", "value")
        .collect()
    )
    vals = [
        (r["value"], r["event_type"])
        for r in ev
        if r["event_type"] in KW_EVENT_TYPES and r["value"] is not None
    ]
    vals.sort()
    n = len(vals)
    # midranks with ties
    ranks = {}
    i = 0
    tie_term = 0.0
    while i < n:
        j = i
        while j < n and vals[j][0] == vals[i][0]:
            j += 1
        mid = (i + 1 + j) / 2.0
        for k in range(i, j):
            ranks[k] = mid
        t = j - i
        tie_term += t**3 - t
        i = j
    rsum = defaultdict(float)
    cnt = defaultdict(int)
    for k, (_, ty) in enumerate(vals):
        rsum[ty] += ranks[k]
        cnt[ty] += 1
    s = sum(rsum[t] ** 2 / cnt[t] for t in KW_EVENT_TYPES)
    h = 12.0 / (n * (n + 1)) * s - 3.0 * (n + 1)
    corr = 1.0 - tie_term / (n**3 - n)
    assert abs(row["h_stat"] - h) < 1e-3
    assert abs(row["h_corrected"] - h / corr) < 1e-3
    assert row["df"] == len(KW_EVENT_TYPES) - 1


def test_welch_ttest_matches_numpy_replay(spark):
    import numpy as np

    from bigdata_group4_app_spark.operators.stats import welch_ttest_spend
    from bigdata_group4_app_spark.plans.churn import churn_customers

    row = welch_ttest_spend(spark, SF_CORRECT).collect()[0]
    rows = churn_customers(spark, SF_CORRECT).select(
        "Churn", "`Total Spend`"
    ).collect()
    a = np.array([round(r["Total Spend"] * 100) for r in rows if r["Churn"] == 1]) / 100.0
    b = np.array([round(r["Total Spend"] * 100) for r in rows if r["Churn"] == 0]) / 100.0
    m1, m0 = a.mean(), b.mean()
    v1, v0 = a.var(ddof=1), b.var(ddof=1)
    se2 = v1 / len(a) + v0 / len(b)
    t = (m1 - m0) / se2**0.5
    dfw = se2**2 / (
        (v1 / len(a)) ** 2 / (len(a) - 1) + (v0 / len(b)) ** 2 / (len(b) - 1)
    )
    assert row["n_churned"] == len(a) and row["n_retained"] == len(b)
    assert abs(row["t_stat"] - t) < 1e-3
    assert abs(row["welch_df"] - dfw) < 1e-2


def test_brier_decomposition_identity(spark):
    """brier == reliability - resolution + uncertainty + within_bin_var
    (up to the 4dp output rounding), and uncertainty = ybar(1-ybar)."""
    from bigdata_group4_app_spark.ml.scoring import brier_decomposition

    r = brier_decomposition(spark, SF_CORRECT).collect()[0]
    lhs = r["brier"]
    rhs = r["reliability"] - r["resolution"] + r["uncertainty"] + r["within_bin_var"]
    assert abs(lhs - rhs) < 5e-4
    assert abs(r["uncertainty"] - r["base_rate"] * (1 - r["base_rate"])) < 1e-3
    assert r["reliability"] >= 0 and r["resolution"] >= 0


def test_gaussian_nb_matches_sklearn_style_replay(spark):
    """Replay the NB decision driver-side with the same rounded fit
    constants — confusion counts must be identical."""
    import math

    from bigdata_group4_app_spark.ml.scoring import (
        GNB_VAR_FLOOR,
        _GNB_INT_FEATS,
        gaussian_nb_churn,
    )
    from bigdata_group4_app_spark.plans.churn import churn_customers

    got = gaussian_nb_churn(spark, SF_CORRECT).collect()[0]
    rows = churn_customers(spark, SF_CORRECT).collect()

    def feats(r):
        xs = [float(r[f]) for f in _GNB_INT_FEATS]
        xs.append(float(round(r["Total Spend"] * 100)))
        return xs

    by_c = {0: [], 1: []}
    for r in rows:
        by_c[r["Churn"]].append(feats(r))
    import numpy as np

    fit = {}
    for c in (0, 1):
        arr = np.array(by_c[c])
        mu = [round(m, 6) for m in arr.mean(axis=0)]
        var = [
            max(round(v, 6), GNB_VAR_FLOOR) for v in arr.var(axis=0)
        ]
        fit[c] = (len(arr), mu, var)
    lpr = round(math.log(fit[1][0]) - math.log(fit[0][0]), 8)
    tp = fp = fn = tn = 0
    for r in rows:
        xs = feats(r)
        d = lpr
        for i, x in enumerate(xs):
            lv1 = round(math.log(fit[1][2][i]), 8)
            lv0 = round(math.log(fit[0][2][i]), 8)
            d += 0.5 * (lv0 - lv1)
            d += (x - fit[0][1][i]) ** 2 / (2 * fit[0][2][i])
            d -= (x - fit[1][1][i]) ** 2 / (2 * fit[1][2][i])
        pred = int(d > 0)
        y = r["Churn"]
        tp += y == 1 and pred == 1
        fp += y == 0 and pred == 1
        fn += y == 1 and pred == 0
        tn += y == 0 and pred == 0
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (tp, fp, fn, tn)


def test_association_rules_invariants(spark):
    from bigdata_group4_app_spark.operators.relational import (
        RULES_MIN_CO,
        association_rules,
    )

    rows = association_rules(spark, SF_CORRECT).collect()
    assert rows
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True) or len(set(lifts)) < len(lifts)
    for r in rows:
        assert r["n_co"] >= RULES_MIN_CO
        assert r["n_co"] <= min(r["n_a"], r["n_b"])
        assert 0 < r["confidence"] <= 1
        assert r["support"] > 0 and r["lift"] > 0


# ---------------------------------------------------------------------------
# batch 3: MIPS pruning, label propagation, bloom runtime filter, STL
# ---------------------------------------------------------------------------


def test_mips_audit_kth_dot_consistent_with_numpy(spark):
    import numpy as np

    from bigdata_group4_app_spark.operators.similarity import (
        MIPS_K,
        mips_norm_pruning_audit,
    )
    from bigdata_group4_app_spark.sources.registry import load_table

    rows = mips_norm_pruning_audit(spark, SF_CORRECT).collect()
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF_CORRECT, "embeddings").collect()
    }
    for r in rows:
        q = emb[r["query_id"]]
        dots = sorted(
            (
                round(float(np.dot(q, v)), 4)
                for vid, v in emb.items()
                if vid != r["query_id"]
            ),
            reverse=True,
        )
        assert abs(r["kth_dot"] - dots[MIPS_K - 1]) < 2e-4
        assert r["n_candidates"] == len(emb) - 1
        assert MIPS_K <= r["n_unprunable"] <= r["n_candidates"]
        assert 0.0 <= r["prune_rate"] < 1.0


def test_label_propagation_labels_are_nodes(spark):
    """Every community label must be a node of the graph, sizes must
    sum to the node count, and the result must be stable across two
    runs (determinism)."""
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.operators.graph import (
        label_propagation_communities,
    )

    a = label_propagation_communities(spark, SF_CORRECT).collect()
    b = label_propagation_communities(spark, SF_CORRECT).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    sizes = [r["n_members"] for r in a]
    assert sizes == sorted(sizes, reverse=True)
    assert all(s >= 1 for s in sizes)


def test_bloom_prefilter_no_false_negatives_and_exact_revenue(spark):
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.operators.sketches import (
        RF_SEGMENT,
        bloom_prefiltered_revenue,
    )
    from bigdata_group4_app_spark.sources.registry import load_table

    r = bloom_prefiltered_revenue(spark, SF_CORRECT).collect()[0]
    assert r["n_missed"] == 0, "Bloom filters cannot have false negatives"
    assert r["n_pass_bloom"] >= r["n_true_match"]
    assert r["n_false_pass"] == r["n_pass_bloom"] - r["n_true_match"]
    # exact revenue check against a plain join
    cust = (
        load_table(spark, SF_CORRECT, "customer")
        .filter(F.col("c_mktsegment") == RF_SEGMENT)
        .select("c_custkey")
    )
    expect = (
        load_table(spark, SF_CORRECT, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("rev"))
        .collect()[0]["rev"]
    )
    assert abs(r["matched_revenue"] - expect) < 1e-6


def test_stl_decomposition_identity_and_seasonality(spark):
    from bigdata_group4_app_spark.operators.advanced import (
        STL_PERIOD,
        stl_daily_decomposition,
    )

    rows = stl_daily_decomposition(spark, SF_CORRECT).collect()
    assert len(rows) == 30
    interior = [r for r in rows if r["trend"] is not None]
    # edges: exactly 2*half (3 leading + 3 trailing) rows lack a trend
    assert len(interior) == 30 - (STL_PERIOD - 1)
    for r in interior:
        assert (
            abs(r["value"] - (r["trend"] + r["seasonal"] + r["remainder"]))
            < 1e-9
        )
    # seasonal is a pure function of day-of-week
    by_dow = defaultdict(set)
    for r in rows:
        by_dow[r["day"].weekday()].add(r["seasonal"])
    assert all(len(v) == 1 for v in by_dow.values())


def test_gmm2_em_loglik_monotone_and_python_replay(spark):
    """EM must not decrease the data log-likelihood round over round
    (up to the 1e-4 fixed-point quantization), and the round-1 params
    must replay exactly from a driver-side fixed-point implementation."""
    import math

    from bigdata_group4_app_spark.functions.rounding import round_half_up as rhu
    from bigdata_group4_app_spark.operators.advanced import (
        GMM_VAR_FLOOR,
        gmm2_value_em,
    )
    from bigdata_group4_app_spark.sources.registry import load_table

    rows = gmm2_value_em(spark, SF_CORRECT).collect()
    lls = [r["avg_loglik"] for r in rows]
    assert all(b >= a - 2e-4 for a, b in zip(lls, lls[1:]))
    assert all(0.0 < r["weight1"] < 1.0 for r in rows)
    assert all(r["sigma1"] > 0 and r["sigma2"] > 0 for r in rows)

    xs = [
        int(rhu(r["value"] * 100, 0))
        for r in load_table(spark, SF_CORRECT, "events")
        .select("value")
        .collect()
        if r["value"] is not None
    ]
    n = len(xs)
    s1, s2 = sum(xs), sum(v * v for v in xs)
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / n
    w, m1, m2 = 0.5, rhu(mean * 0.5, 6), rhu(mean * 1.5, 6)
    v1 = v2 = max(rhu(var, 6), GMM_VAR_FLOOR)
    la = rhu(math.log(w), 8) - 0.5 * rhu(math.log(v1), 8)
    lb = rhu(math.log(1.0 - w), 8) - 0.5 * rhu(math.log(v2), 8)
    sr = srx = 0
    for x in xs:
        a = la - (x - m1) * (x - m1) / (2.0 * v1)
        b = lb - (x - m2) * (x - m2) / (2.0 * v2)
        z = rhu(b - a, 6)
        try:
            r4 = int(rhu(1.0 / (1.0 + math.exp(z)) * 10000, 0))
        except OverflowError:
            r4 = 0
        sr += r4
        srx += r4 * x
    w1 = rhu(sr / (10000 * n), 6)
    mu1 = rhu(srx / sr, 6) / 100.0
    assert rows[0]["weight1"] == w1
    assert abs(rows[0]["mu1"] - mu1) < 1e-9


def test_bfs_histogram_matches_python_bfs(spark):
    from collections import deque

    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.operators.graph import (
        TRI_MIN_SUPPORT,
        bfs_distance_histogram,
    )
    from bigdata_group4_app_spark.operators.relational import (
        basket_pairs_from,
    )
    from bigdata_group4_app_spark.sources.registry import load_table

    got = {
        r["dist"]: r["n_nodes"]
        for r in bfs_distance_histogram(spark, SF_CORRECT).collect()
    }
    li = load_table(spark, SF_CORRECT, "lineitem").select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
    )
    edges = (
        basket_pairs_from(li, ordered=False)
        .filter(F.col("n_orders") >= TRI_MIN_SUPPORT)
        .select("part1", "part2")
        .collect()
    )
    adj = defaultdict(set)
    for e in edges:
        adj[e["part1"]].add(e["part2"])
        adj[e["part2"]].add(e["part1"])
    src = min(adj)
    dist = {src: 0}
    q = deque([src])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    hist = defaultdict(int)
    for d in dist.values():
        hist[d] += 1
    hist[-1] = len(adj) - len(dist)
    expect = {d: n for d, n in hist.items() if n > 0}
    assert got == expect


def test_ndcg_bounds_and_perfect_retriever_identity(spark):
    """nDCG of the LSH list is in [0, 1]; a query whose LSH list equals
    the ideal list must have ndcg == 1.0 and recall 1.0."""
    from bigdata_group4_app_spark.operators.similarity import (
        NDCG_K,
        ndcg_retrieval_eval,
    )

    rows = ndcg_retrieval_eval(spark, SF_CORRECT).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["n_retrieved"] <= NDCG_K
        assert 0.0 <= r["recall_at_k"] <= 1.0
        if r["ndcg"] is not None:
            assert -1e-9 <= r["ndcg"] <= 1.0 + 1e-9
            assert r["dcg"] <= r["idcg"] + 1e-9
        if r["recall_at_k"] == 1.0 and r["n_retrieved"] == NDCG_K:
            # same set retrieved; order by cosine is identical => equal DCG
            assert abs(r["ndcg"] - 1.0) < 1e-9


def test_nelson_aalen_consistency_with_km(spark):
    """NA cumulative hazard must be >= -ln(KM survival) is false in
    general; instead check: increments match d/n from KM's risk sets,
    H is nondecreasing, and Breslow survival >= KM survival (standard
    inequality)."""
    from bigdata_group4_app_spark.operators.stats import (
        kaplan_meier_churn,
        nelson_aalen_hazard,
    )

    na = nelson_aalen_hazard(spark, SF_CORRECT).collect()
    km = {r["t"]: r for r in kaplan_meier_churn(spark, SF_CORRECT).collect()}
    prev = 0.0
    for r in na:
        assert r["cum_hazard"] >= prev - 1e-9
        prev = r["cum_hazard"]
        k = km.get(r["t"])
        if k is not None and "n_at_risk" in k.asDict():
            assert k["n_at_risk"] == r["n_at_risk"]
        if k is not None and "survival" in k.asDict():
            assert r["breslow_survival"] >= k["survival"] - 5e-4


def test_ipw_ate_replay_from_cells(spark):
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.operators.stats import (
        IPW_TREATMENT,
        ipw_churn_ate,
    )
    from bigdata_group4_app_spark.plans.churn import churn_customers

    got = ipw_churn_ate(spark, SF_CORRECT).collect()[0]
    rows = churn_customers(spark, SF_CORRECT).select(
        "`Subscription Type`", "Gender", "`Contract Length`", "Churn"
    ).collect()
    cells = defaultdict(lambda: [0, 0, 0, 0])  # n, nt, yt, yc
    for r in rows:
        c = cells[(r["Subscription Type"], r["Gender"])]
        t = int(r["Contract Length"] == IPW_TREATMENT)
        c[0] += 1
        c[1] += t
        c[2] += t * r["Churn"]
        c[3] += (1 - t) * r["Churn"]
    ht_t = ht_c = wsum = n_used = 0.0
    for n, nt, yt, yc in cells.values():
        if 0 < nt < n:
            ht_t += yt * n / nt
            ht_c += yc * n / (n - nt)
            wsum += n
            n_used += n
    assert abs(got["ate_ht"] - (ht_t - ht_c) / n_used) < 1e-3
    assert abs(got["ate_hajek"] - (ht_t - ht_c) / wsum) < 1e-3
    assert got["n"] == len(rows)


def test_zipf_fit_matches_numpy_polyfit(spark):
    import numpy as np

    from bigdata_group4_app_spark.operators.text import zipf_slope_tokens
    from bigdata_group4_app_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    got = zipf_slope_tokens(spark, SF_CORRECT).collect()[0]
    toks = (
        load_table(spark, SF_CORRECT, "documents")
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .groupBy("tok")
        .count()
        .collect()
    )
    freqs = sorted(((r["count"], r["tok"]) for r in toks), key=lambda t: (-t[0], t[1]))
    x = np.log(np.arange(1, len(freqs) + 1))
    y = np.log([f for f, _ in freqs])
    slope, intercept = np.polyfit(x, y, 1)
    assert got["n_ranks"] == len(freqs)
    assert abs(got["zipf_slope"] - slope) < 1e-3
    assert abs(got["ln_c_intercept"] - intercept) < 1e-3
    assert 0 <= got["r_squared"] <= 1


def test_elastic_net_path_sparsity_and_signal_features(spark):
    """L1 path: nonzero count non-increasing in lambda; the three TRUE
    signal features of the synthetic label (Tenure, Support Calls,
    Payment Delay — churn_customers derivation) survive the heaviest
    penalty with the right signs."""
    from bigdata_group4_app_spark.ml.scoring import (
        EN_LAMBDAS,
        elastic_net_churn_path,
    )

    rows = elastic_net_churn_path(spark, SF_CORRECT).collect()
    by_lam = defaultdict(dict)
    for r in rows:
        by_lam[r["lam"]][r["feature"]] = r
    nz = [
        sum(r["selected"] for r in by_lam[lam].values())
        for lam in sorted(EN_LAMBDAS)
    ]
    assert nz == sorted(nz, reverse=True)
    heavy = by_lam[max(EN_LAMBDAS)]
    assert heavy["Tenure"]["coef"] < 0
    assert heavy["Support Calls"]["coef"] > 0
    assert heavy["Payment Delay"]["coef"] > 0
    assert heavy["Age"]["selected"] == 0
    assert heavy["Spend Cents"]["selected"] == 0


def test_markov_attribution_invariants_and_python_replay(spark):
    """Shares sum to 1; every removal hurts (RE in (0,1)); the full
    conversion probability replays from a pure-Python absorbing-chain
    iteration over the same fixed-point transition matrix."""
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.functions.rounding import round_half_up as rhu
    from bigdata_group4_app_spark.operators.advanced import (
        MARKOV_CHANNELS,
        MARKOV_ROUNDS,
        markov_removal_attribution,
    )
    from bigdata_group4_app_spark.sources.registry import load_table

    rows = markov_removal_attribution(spark, SF_CORRECT).collect()
    assert [r["channel"] for r in rows] == sorted(MARKOV_CHANNELS)
    assert abs(sum(r["attribution_share"] for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert 0.0 < r["removal_effect"] < 1.0
        assert r["removed_conv_p"] < r["full_conv_p"]

    # python replay of the full-chain absorption from raw events
    ev = load_table(spark, SF_CORRECT, "events").select(
        "user_id", F.to_date("ts").alias("day"), "ts", "event_id", "event_type"
    ).collect()
    by_day = defaultdict(list)
    for e in ev:
        by_day[(e["user_id"], e["day"])].append(
            (e["ts"], e["event_id"], e["event_type"])
        )
    cnt = defaultdict(lambda: defaultdict(int))
    for k, evs in by_day.items():
        types = [t for _, _, t in sorted(evs)]
        if "purchase" in types:
            idx = types.index("purchase")
            chain = ["start"] + types[:idx] + ["conv"]
        else:
            chain = ["start"] + types + ["null"]
        for a, b in zip(chain, chain[1:]):
            cnt[a][b] += 1
    T = {
        s: {d: rhu(n / sum(ds.values()), 8) for d, n in ds.items()}
        for s, ds in cnt.items()
    }
    states = ["start"] + MARKOV_CHANNELS
    p = {s: 0.0 for s in states}
    for _ in range(MARKOV_ROUNDS):
        nxt = {}
        for s in states:
            tot = 0.0
            for d in MARKOV_CHANNELS + ["conv", "null"]:
                t = T.get(s, {}).get(d, 0.0)
                v = 1.0 if d == "conv" else 0.0 if d == "null" else p[d]
                tot = tot + t * v
            nxt[s] = rhu(tot, 8)
        p = nxt
    assert rows[0]["full_conv_p"] == p["start"]


def test_periodogram_matches_numpy_fft(spark):
    """Power spectrum must match numpy's FFT periodogram of the SAME
    fixed-point daily series (tolerance covers the 8dp trig grid)."""
    import numpy as np
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.operators.advanced import (
        PERIODOGRAM_DAYS,
        periodogram_daily_value,
    )
    from bigdata_group4_app_spark.sources.registry import load_table

    got = {r["k"]: r["power"] for r in periodogram_daily_value(spark, SF_CORRECT).collect()}
    assert len(got) == PERIODOGRAM_DAYS // 2 - 1
    daily = (
        load_table(spark, SF_CORRECT, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg((F.round(F.round(F.avg("value"), 4) * 10000, 0) / 10000.0).alias("v"))
        .orderBy("day")
        .collect()
    )
    v = np.array([r["v"] for r in daily])
    fft = np.fft.rfft(v)
    n = len(v)
    for k, p in got.items():
        expect = (fft[k].real ** 2 + fft[k].imag ** 2) / n
        assert abs(p - expect) < 1e-4 * max(1.0, expect)


def test_pdp_age_matches_per_row_rescoring(spark):
    """PDP mean at one grid point must equal the mean of re-scored
    per-row probabilities computed independently."""
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.ml.scoring import (
        PDP_AGE_GRID,
        churn_probability,
        pdp_age_churn,
    )
    from bigdata_group4_app_spark.plans.churn import churn_customers

    rows = {r["age"]: r for r in pdp_age_churn(spark, SF_CORRECT).collect()}
    assert sorted(rows) == PDP_AGE_GRID
    g = PDP_AGE_GRID[3]
    forced = (
        churn_customers(spark, SF_CORRECT)
        .withColumn("Age", F.lit(g))
        .select(churn_probability().alias("p"))
        .collect()
    )
    expect = sum(round(r["p"] * 10000) for r in forced) / (len(forced) * 10000.0)
    assert abs(rows[g]["mean_churn_p"] - expect) < 1e-12
    for r in rows.values():
        assert 0.0 <= r["mean_churn_p"] <= 1.0 and r["ice_std"] >= 0.0


def test_spearman_matches_scipy_style_replay(spark):
    import numpy as np

    from bigdata_group4_app_spark.operators.stats import (
        SPEARMAN_PAIRS,
        spearman_feature_pairs,
    )
    from bigdata_group4_app_spark.plans.churn import churn_customers

    got = {r["pair"]: r for r in spearman_feature_pairs(spark, SF_CORRECT).collect()}
    cols = sorted({c for p in SPEARMAN_PAIRS for c in p})
    rows = churn_customers(spark, SF_CORRECT).select(
        *[f"`{c}`" for c in cols]
    ).collect()

    def midrank(vals):
        order = np.argsort(vals, kind="stable")
        ranks = np.empty(len(vals))
        sv = np.array(vals)[order]
        i = 0
        while i < len(sv):
            j = i
            while j < len(sv) and sv[j] == sv[i]:
                j += 1
            ranks[order[i:j]] = (i + 1 + j) / 2.0
            i = j
        return ranks

    for x, y in SPEARMAN_PAIRS:
        rx = midrank([r[x] for r in rows])
        ry = midrank([r[y] for r in rows])
        rho = np.corrcoef(rx, ry)[0, 1]
        assert abs(got[f"{x} ~ {y}"]["spearman_rho"] - rho) < 1e-9
        assert got[f"{x} ~ {y}"]["n"] == len(rows)


def test_cumulative_gains_monotone_and_total(spark):
    from bigdata_group4_app_spark.ml.scoring import cumulative_gains_churn

    rows = cumulative_gains_churn(spark, SF_CORRECT).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    gains = [r["cum_gain"] for r in rows]
    assert gains == sorted(gains)
    assert abs(gains[-1] - 1.0) < 1e-12
    lifts = [r["lift"] for r in rows]
    assert abs(lifts[-1] - 1.0) < 1e-12
    assert lifts[0] >= 1.0  # top decile must beat random targeting


def test_l_diversity_consistent_with_kanon_homogeneity(spark):
    """distinct_l == 1 classes must have effective_l == 1 and entropy 0;
    effective_l is bounded by distinct_l; class sizes sum to the table."""
    import math

    from bigdata_group4_app_spark.operators.quality import l_diversity_profile
    from bigdata_group4_app_spark.plans.churn import churn_customers

    rows = l_diversity_profile(spark, SF_CORRECT).collect()
    n_total = churn_customers(spark, SF_CORRECT).count()
    assert sum(r["n"] for r in rows) == n_total
    for r in rows:
        assert 1 <= r["distinct_l"] <= 3
        assert r["effective_l"] <= r["distinct_l"] + 1e-6
        assert r["entropy_nats"] >= -1e-9
        if r["distinct_l"] == 1:
            assert abs(r["entropy_nats"]) < 1e-9
            assert abs(r["effective_l"] - 1.0) < 1e-6
        else:
            assert abs(r["effective_l"] - math.exp(r["entropy_nats"])) < 1e-3
        assert r["below_min_l"] == int(r["distinct_l"] < 2)
