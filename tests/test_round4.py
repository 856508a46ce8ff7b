"""Round-4 operators: winnowing, Gopher rule ledger, watermark dedup,
MMR, Bloom FPR, rank-sum, Theil-Sen, GROUPING SETS.

Each already has the strongest check (the DuckDB oracle, exercised in
test_llm_pipeline-style oracle tests below); these tests add the
SEMANTIC guarantees an oracle can't express — replay fidelity against
plain-Python reference implementations and algorithm-specific
invariants (winnowing's shared-substring property, MMR's greedy
optimality, the Bloom filter's one-sided error).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from .conftest import SF_CORRECT, SF_SMOKE, check_registered


# The round-4 names no family sweep checks at sf0.01 (graph, quality and
# windows have no family sweep; test_advanced's runs at sf0.001), as
# (module, name); the module only labels the test id.
ORACLE_CHECKED = [
    ("windows", "watermark_dedup_stats"),
    ("graph", "degree_distribution_stats"),
    ("quality", "partition_skew_report"),
    ("advanced", "ips_policy_value"),
]


@pytest.mark.parametrize(
    "name", [pytest.param(n, id=f"{m}-{n}") for m, n in ORACLE_CHECKED]
)
def test_round4_matches_oracle(spark, name):
    check_registered(spark, name, SF_CORRECT)


def test_winnowing_replay_and_guarantee(spark):
    """Replay winnowing in plain Python for every doc at sf0.001 and
    compare the per-doc fingerprint ledger; also pin the MOSS guarantee
    that fingerprints-per-doc covers at least n_kgrams/w selections
    (every window selects something)."""
    import hashlib

    from bigdata_group4_app_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprints,
    )

    got = {
        r["doc_id"]: (r["n_kgrams"], r["n_fingerprints"])
        for r in winnowing_fingerprints(spark, SF_SMOKE).collect()
    }
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    checked = 0
    for row in docs.itertuples():
        toks = row.text.strip().split()
        if len(toks) < WINNOW_K + WINNOW_W - 1:
            assert row.doc_id not in got
            continue
        grams = [
            " ".join(toks[i : i + WINNOW_K])
            for i in range(len(toks) - WINNOW_K + 1)
        ]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams
        ]
        sel = set()
        for end in range(WINNOW_W - 1, len(hs)):
            win = [
                (hs[p], -p) for p in range(end - WINNOW_W + 1, end + 1)
            ]
            h, negp = min(win)
            sel.add((h, -negp))
        n_kgrams, n_fp = got[row.doc_id]
        assert n_kgrams == len(grams)
        assert n_fp == len(sel)
        # every w-window selects exactly one fingerprint -> coverage bound
        assert n_fp >= math.ceil((len(hs) - WINNOW_W + 1) / WINNOW_W)
        checked += 1
    assert checked > 0


def test_watermark_dedup_chain_replay(spark):
    """Replay the keep-first-within-horizon chain in plain pandas and
    compare total kept counts — pins the applyInPandas bucketing and the
    strict >= horizon comparison."""
    from bigdata_group4_app_spark.streaming.windows import (
        watermark_dedup_stats,
    )

    got = {
        r["event_type"]: (r["n_events"], r["n_kept"])
        for r in watermark_dedup_stats(spark, SF_SMOKE).collect()
    }
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev["ts"] = pd.to_datetime(ev["ts"])
    horizon = pd.Timedelta(minutes=10)
    kept: dict[str, int] = {}
    for (_, _), g in ev.sort_values(["ts", "event_id"]).groupby(
        ["user_id", "event_type"]
    ):
        last = None
        for r in g.itertuples():
            if last is None or r.ts >= last + horizon:
                kept[r.event_type] = kept.get(r.event_type, 0) + 1
                last = r.ts
    for etype, (n_events, n_kept) in got.items():
        assert n_kept == kept.get(etype, 0), etype
        assert 0 < n_kept <= n_events


def test_mmr_greedy_replay(spark):
    """Replay the greedy MMR selection in numpy from the engine's own
    candidate relevance/similarity numbers — every rank must match, and
    rank 1 must be the max-relevance candidate."""
    from bigdata_group4_app_spark.operators.similarity import (
        MMR_CANDS,
        MMR_K,
        MMR_LAMBDA,
        MMR_MU,
        MMR_QUERY_ID,
        mmr_diverse_topk,
    )

    out = mmr_diverse_topk(spark, SF_CORRECT).collect()
    assert [r["rank"] for r in out] == list(range(1, MMR_K + 1))

    import math

    from bigdata_group4_app_spark.functions.rounding import round_half_up

    emb = pd.read_parquet(f"{SF_CORRECT}/embeddings.parquet")
    vecs = {
        r.vec_id: [float(x) for x in r.embedding] for r in emb.itertuples()
    }
    q = vecs[MMR_QUERY_ID]

    def _fold_dot(a, b):
        # sequential left fold, matching the engine's zip_with/aggregate
        # (np.dot is pairwise-summed and can differ in the last bit)
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def cos(a, b):
        # round_half_up, never Python round (half-even — CLAUDE.md)
        return round_half_up(
            _fold_dot(a, b)
            / (math.sqrt(_fold_dot(a, a)) * math.sqrt(_fold_dot(b, b))),
            4,
        )

    rel = {
        vid: cos(q, v) for vid, v in vecs.items() if vid != MMR_QUERY_ID
    }
    pool = sorted(rel, key=lambda v: (-rel[v], v))[:MMR_CANDS]
    sel = [min(pool, key=lambda v: (-rel[v], v))]
    while len(sel) < MMR_K:
        best = min(
            (c for c in pool if c not in sel),
            key=lambda c: (
                -round_half_up(
                    MMR_LAMBDA * rel[c]
                    - MMR_MU * max(cos(vecs[c], vecs[s]) for s in sel),
                    6,
                ),
                c,
            ),
        )
        sel.append(best)
    assert [r["neighbor_id"] for r in out] == sel
    assert out[0]["neighbor_id"] == min(rel, key=lambda v: (-rel[v], v))


def test_bloom_fpr_one_sided_and_bounded(spark):
    """A Bloom filter never false-negatives by construction; the audit
    must show an interior measured FPR in the fill-ratio ballpark."""
    from bigdata_group4_app_spark.operators.sketches import (
        BLOOM_K,
        BLOOM_M,
        bloom_filter_fpr_audit,
    )

    row = bloom_filter_fpr_audit(spark, SF_CORRECT).collect()[0]
    assert row["m_bits"] == BLOOM_M and row["k_hashes"] == BLOOM_K
    assert 0 < row["n_bits_set"] <= min(BLOOM_M, row["n_members"] * BLOOM_K)
    assert 0.0 <= row["measured_fpr"] <= 1.0
    # fill^k predicts the independent-probe FPR; measured should be within
    # a loose factor (binomial noise on ~1.5k probes)
    assert abs(row["measured_fpr"] - row["predicted_fpr"]) < 0.05


def test_mann_whitney_replay(spark):
    """Replay midrank U/z in plain Python over the raw events."""
    from bigdata_group4_app_spark.operators.stats import (
        mann_whitney_value_test,
    )

    row = mann_whitney_value_test(spark, SF_CORRECT).collect()[0]
    ev = pd.read_parquet(f"{SF_CORRECT}/events.parquet")
    ev = ev[ev.event_type.isin(["click", "purchase"]) & ev.value.notna()]
    vals = sorted(ev.value)
    rank_of = {}
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        rank_of[vals[i]] = (i + 1 + j) / 2.0  # midrank of the tie block
        i = j
    purch = ev[ev.event_type == "purchase"].value
    r1 = sum(rank_of[v] for v in purch)
    n1, n2 = len(purch), len(ev) - len(purch)
    u1 = r1 - n1 * (n1 + 1) / 2.0
    assert row["n_purchase"] == n1 and row["n_click"] == n2
    assert row["u_stat"] == u1
    assert abs(row["auc"] - u1 / (n1 * n2)) < 1e-3


def test_theil_sen_replay(spark):
    """Median-of-slopes replay (numpy) against the engine output."""
    import numpy as np

    from bigdata_group4_app_spark.operators.stats import (
        theil_sen_daily_trend,
    )

    got = {
        r["event_type"]: (r["n_pairs"], r["ts_slope"])
        for r in theil_sen_daily_trend(spark, SF_CORRECT).collect()
    }
    ev = pd.read_parquet(f"{SF_CORRECT}/events.parquet")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.floor("D")
    for etype, g in ev.groupby("event_type"):
        daily = g.groupby("day")["value"].sum().round(4).sort_index()
        days = (daily.index - pd.Timestamp("1970-01-01")).days.to_numpy()
        rev = daily.to_numpy()
        slopes = [
            round((rev[j] - rev[i]) / (days[j] - days[i]), 6)
            for i in range(len(rev))
            for j in range(i + 1, len(rev))
        ]
        n_pairs, ts_slope = got[etype]
        assert n_pairs == len(slopes)
        assert abs(ts_slope - float(np.median(slopes))) < 1e-3


def test_gopher_ledger_is_consistent(spark):
    """Rule counts bound n_docs; n_pass can't exceed docs failing zero
    rules by the union bound."""
    from bigdata_group4_app_spark.operators.text import (
        gopher_quality_flags,
    )

    rows = gopher_quality_flags(spark, SF_CORRECT).collect()
    assert rows, "empty ledger"
    for r in rows:
        fails = [
            r["n_f_words"], r["n_f_mwl"], r["n_f_stop"],
            r["n_f_mct"], r["n_f_ttr"],
        ]
        assert all(0 <= f <= r["n_docs"] for f in fails)
        assert 0 <= r["n_pass"] <= r["n_docs"]
        # union bound: docs failing nothing >= n_docs - sum(failures)
        assert r["n_pass"] >= r["n_docs"] - sum(fails)
        assert r["pass_rate"] == pytest.approx(
            round(r["n_pass"] / r["n_docs"], 4), abs=1e-9
        )


def test_grouping_sets_lattice_consistency(spark):
    """Each sub-lattice must re-aggregate to the grand total."""
    from bigdata_group4_app_spark.operators.sql_surface import (
        grouping_sets_revenue,
    )

    rows = grouping_sets_revenue(spark, SF_CORRECT).collect()
    by_gid: dict[int, list] = {}
    for r in rows:
        by_gid.setdefault(r["gid"], []).append(r)
    assert set(by_gid) == {0, 1, 2, 3}
    total = by_gid[3][0]["n_orders"]
    assert len(by_gid[3]) == 1
    for gid in (0, 1, 2):
        assert sum(r["n_orders"] for r in by_gid[gid]) == total
    # gid semantics: gid=1 aggregates priority away (priority IS NULL)
    assert all(r["priority"] is None for r in by_gid[1])
    assert all(r["region"] is None for r in by_gid[2])


def test_dbscan_census_matches_naive_replay(spark):
    """Replay DBSCAN classification with a full O(n²) numpy distance
    matrix (no grid) — the grid-blocked join must lose NO pairs."""
    import numpy as np

    from bigdata_group4_app_spark.operators.stats import (
        DBSCAN_EPS,
        DBSCAN_MINPTS,
        dbscan_density_census,
    )

    got = {
        r["cls"]: r["n_users"]
        for r in dbscan_density_census(spark, SF_CORRECT).collect()
    }
    ev = pd.read_parquet(f"{SF_CORRECT}/events.parquet")
    g = ev.groupby("user_id").agg(n=("value", "size"), av=("value", "mean"))
    X = np.column_stack([g.n.to_numpy(float), g.av.round(4).to_numpy()])
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d2, np.inf)
    nbrs = (d2.round(8) <= DBSCAN_EPS * DBSCAN_EPS)
    n_nbrs = nbrs.sum(1)
    core = n_nbrs >= DBSCAN_MINPTS
    border = ~core & (nbrs & core[None, :]).any(1)
    noise = ~core & ~border
    assert got.get("core", 0) == int(core.sum())
    assert got.get("border", 0) == int(border.sum())
    assert got.get("noise", 0) == int(noise.sum())
    assert sum(got.values()) == len(g)


def test_pareto_frontier_is_exactly_the_undominated_set(spark):
    """Naive O(n²) dominance replay — the window form must return
    exactly the undominated customers."""
    from bigdata_group4_app_spark.operators.relational import (
        pareto_frontier_customers,
    )

    got = {
        (r["c_custkey"], r["revenue"], r["n_orders"])
        for r in pareto_frontier_customers(spark, SF_SMOKE).collect()
    }
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    per = orders.groupby("o_custkey").agg(
        revenue=("o_totalprice", "sum"), n=("o_totalprice", "size")
    )
    per["revenue"] = per.revenue.round(2)
    pts = list(per.itertuples())
    want = set()
    for p in pts:
        dominated = any(
            (q.revenue >= p.revenue and q.n >= p.n)
            and (q.revenue > p.revenue or q.n > p.n)
            for q in pts
            if q.Index != p.Index
        )
        if not dominated:
            want.add((p.Index, p.revenue, p.n))
    assert got == want and len(got) > 0


def test_minhash_audit_estimator_is_unbiasedish(spark):
    """The audit's own ledger must show the estimator property: exact
    Jaccard increases with match count, and per-row est = n_match/K."""
    from bigdata_group4_app_spark.operators.dedup import (
        MINHASH_K,
        minhash_accuracy_audit,
    )

    rows = minhash_accuracy_audit(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert r["est_jaccard"] == pytest.approx(
            r["n_match"] / MINHASH_K, abs=1e-9
        )
        assert 0 <= r["avg_abs_err"] <= r["max_abs_err"] <= 1
        assert r["n_pairs"] > 0
    # monotone trend between the extreme observed match counts
    assert rows[-1]["avg_exact_jaccard"] >= rows[0]["avg_exact_jaccard"]


def test_histogram_quantile_error_bounded_by_width(spark):
    """|estimate − exact| can never exceed one bucket width (the
    estimate and the true value live in the same bucket)."""
    from bigdata_group4_app_spark.operators.sketches import (
        histogram_quantile_audit,
    )

    rows = histogram_quantile_audit(spark, SF_CORRECT).collect()
    assert [r["p"] for r in rows] == [0.5, 0.9, 0.99]
    for r in rows:
        assert r["abs_err"] <= r["bucket_width"] + 1e-6
        assert r["est_value"] > 0 and r["exact_value"] > 0


def test_huber_downweights_and_is_robust(spark):
    """The IRLS fit must actually exercise the robust branch (interior
    downweighted count) and differ from OLS when it does."""
    from bigdata_group4_app_spark.operators.stats import huber_spend_model

    r = huber_spend_model(spark, SF_CORRECT).collect()[0]
    assert 0 < r["n_downweighted"] < r["n"]
    assert r["scale"] > 0
    assert r["huber_slope"] != r["ols_slope"]


def test_bm25_ranks_are_sane(spark):
    """BM25 scores positive, descending, and every hit doc contains at
    least one query term."""
    from bigdata_group4_app_spark.operators.corpus import (
        BM25_QUERY,
        BM25_TOP,
        bm25_search,
    )

    rows = bm25_search(spark, SF_CORRECT).collect()
    assert 0 < len(rows) <= BM25_TOP
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    docs = pd.read_parquet(f"{SF_CORRECT}/documents.parquet").set_index(
        "doc_id"
    )
    for r in rows:
        toks = set(docs.loc[r["doc_id"]].text.split())
        assert toks & set(BM25_QUERY)
        assert r["n_terms_hit"] == len(toks & set(BM25_QUERY))


def test_seasonal_naive_backtest_replay(spark):
    """pandas replay of the lag-7 MAE per event type."""
    from bigdata_group4_app_spark.operators.stats import (
        SN_LAG_DAYS,
        seasonal_naive_backtest,
    )

    got = {
        r["event_type"]: (r["n_days"], r["mae"])
        for r in seasonal_naive_backtest(spark, SF_CORRECT).collect()
    }
    ev = pd.read_parquet(f"{SF_CORRECT}/events.parquet")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.floor("D")
    for etype, g in ev.groupby("event_type"):
        daily = g.groupby("day")["value"].sum().round(4)
        shifted = daily.copy()
        shifted.index = shifted.index + pd.Timedelta(days=SN_LAG_DAYS)
        joined = pd.concat(
            [daily.rename("y"), shifted.rename("yhat")], axis=1
        ).dropna()
        n_days, mae = got[etype]
        assert n_days == len(joined)
        assert mae == pytest.approx(
            (joined.y - joined.yhat).abs().mean(), abs=1e-3
        )


def test_novelty_curve_first_decile_is_all_novel(spark):
    """Decile 1 contains the corpus's first docs: every gram is novel by
    definition; later deciles can only repeat or hold."""
    from bigdata_group4_app_spark.operators.text import ngram_novelty_curve

    rows = ngram_novelty_curve(spark, SF_CORRECT).collect()
    assert rows[0]["decile"] == 1 and rows[0]["novelty"] == 1.0
    assert all(0 <= r["novelty"] <= 1 for r in rows)
    assert all(r["n_novel"] <= r["n_grams"] for r in rows)
    # the curve must actually decay on a repetitive corpus
    assert rows[-1]["novelty"] < rows[0]["novelty"]


def test_dp_noisy_counts_consistent_and_seeded(spark):
    """abs_noise must equal |released − exact| and the seeded release is
    reproducible run-to-run."""
    from bigdata_group4_app_spark.operators.corpus import dp_noisy_counts

    a = dp_noisy_counts(spark, SF_CORRECT).collect()
    b = dp_noisy_counts(spark, SF_CORRECT).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    for r in a:
        assert r["abs_noise"] == pytest.approx(
            abs(r["released_n"] - r["exact_n"]), abs=2e-4
        )
        assert r["exact_n"] > 0


def test_kaplan_meier_properties(spark):
    """S(t) must start ≤ 1, be non-increasing, and match the product
    -limit replay in plain Python; risk sets telescope exactly."""
    from bigdata_group4_app_spark.operators.stats import kaplan_meier_churn

    rows = kaplan_meier_churn(spark, SF_CORRECT).collect()
    assert rows
    s_prev, n_prev = 1.0 + 1e-9, None
    for r in rows:
        assert r["survival"] <= s_prev + 1e-9
        s_prev = r["survival"]
        if n_prev is not None:
            assert r["n_at_risk"] == n_prev[0] - n_prev[1] - n_prev[2]
        n_prev = (r["n_at_risk"], r["d_events"], r["c_censored"])
    # replay the product limit
    s = 1.0
    for r in rows:
        s *= 1.0 - r["d_events"] / r["n_at_risk"]
        assert r["survival"] == pytest.approx(s, abs=1e-3)


def test_partition_skew_report_flags_the_skewed_key(spark):
    """events.user_id (few hot users) must show more bucket skew than
    lineitem.l_orderkey (many uniform orders); averages must be
    consistent with totals."""
    from bigdata_group4_app_spark.operators.quality import (
        SKEW_BUCKETS,
        partition_skew_report,
    )

    rows = {r["table_name"]: r for r in
            partition_skew_report(spark, SF_CORRECT).collect()}
    assert set(rows) == {"orders", "lineitem", "events"}
    for r in rows.values():
        assert r["n_buckets"] <= SKEW_BUCKETS
        assert r["avg_rows"] == pytest.approx(
            r["n_rows"] / r["n_buckets"], abs=1e-2
        )
        assert r["skew_ratio"] >= 1.0
    assert rows["events"]["skew_ratio"] > rows["lineitem"]["skew_ratio"]


def test_pmi_pairs_are_symmetric_associations(spark):
    """Every pair meets the df floor, is ordered a<b, and PMI matches a
    plain-Python replay of ln(df_ab*N/(df_a*df_b))."""
    import hashlib as _h  # noqa: F401  (parallel with other replays)
    import math

    from bigdata_group4_app_spark.operators.text import (
        PMI_MIN_DF,
        pmi_word_pairs,
    )

    import re

    rows = pmi_word_pairs(spark, SF_CORRECT).collect()
    assert rows
    docs = pd.read_parquet(f"{SF_CORRECT}/documents.parquet")
    # the operator's tokenizer class, NOT str.split (unicode-wider) —
    # and N counts only docs that produce tokens, like distinct(doc_id)
    ws = re.compile("[ \t\n\x0b\f\r]+")
    doc_toks = [
        s for s in
        (set(x for x in ws.split(t.strip()) if x) for t in docs.text)
        if s
    ]
    n = len(doc_toks)
    for r in rows:
        assert r["tok_a"] < r["tok_b"]
        assert r["df_ab"] >= PMI_MIN_DF
        df_a = sum(r["tok_a"] in s for s in doc_toks)
        df_b = sum(r["tok_b"] in s for s in doc_toks)
        df_ab = sum(
            r["tok_a"] in s and r["tok_b"] in s for s in doc_toks
        )
        assert df_ab == r["df_ab"]
        assert r["pmi"] == pytest.approx(
            math.log(df_ab * n / (df_a * df_b)), abs=1e-3
        )


def test_burstiness_index_is_bounded(spark):
    """B ∈ (−1, 1) by construction; CV² consistent with the moments."""
    from bigdata_group4_app_spark.operators.stats import (
        interarrival_burstiness,
    )

    rows = interarrival_burstiness(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert -1 < r["burstiness_b"] < 1
        assert r["cv2"] == pytest.approx(
            (r["std_gap_s"] / r["mean_gap_s"]) ** 2, rel=1e-2
        )
        assert r["n_gaps"] > 0


def test_contrastive_pairs_cover_multi_member_labels(spark):
    """Every ≥2-member label gets anchors; positives are same-label by
    construction (ring); negatives exist when buckets mix labels."""
    from bigdata_group4_app_spark.operators.similarity import (
        contrastive_pair_sample,
    )

    rows = contrastive_pair_sample(spark, SF_CORRECT).collect()
    emb = pd.read_parquet(f"{SF_CORRECT}/embeddings.parquet")
    sizes = emb.groupby("label").size()
    got = {r["label"]: r for r in rows}
    for label, n in sizes.items():
        if n >= 2:
            assert got[label]["n_anchors"] == n
        assert 0 <= got[label]["n_neg"] <= got[label]["n_anchors"]


def test_degree_distribution_consistency(spark):
    """Histogram shares sum to 1; node counts times degree sum to 2|E|
    (handshake lemma against the triangle census's own edge count)."""
    from bigdata_group4_app_spark.operators.graph import (
        copurchase_triangles,
        degree_distribution_stats,
    )

    rows = degree_distribution_stats(spark, SF_CORRECT).collect()
    assert rows
    assert sum(r["node_share"] for r in rows) == pytest.approx(1.0, abs=1e-2)
    two_e = sum(r["degree"] * r["n_nodes"] for r in rows)
    census = copurchase_triangles(spark, SF_CORRECT).collect()[0]
    assert two_e == 2 * census["n_edges"]
    slopes = {r["loglog_slope"] for r in rows}
    assert len(slopes) == 1  # one global fit


def test_weighted_reservoir_prefers_heavy_docs(spark):
    """A-ES with weight = n_chars must over-represent long docs: the
    sample's mean length must exceed the corpus mean, and a full replay
    of the ln(u)/w ranking must agree."""
    import hashlib
    import math

    from bigdata_group4_app_spark.operators.corpus import (
        WRS_K,
        weighted_reservoir_sample,
    )

    rows = weighted_reservoir_sample(spark, SF_CORRECT).collect()
    assert len(rows) == WRS_K
    docs = pd.read_parquet(f"{SF_CORRECT}/documents.parquet")
    assert (
        sum(r["weight"] for r in rows) / WRS_K > docs.n_chars.mean()
    )

    def key(doc_id, w):
        h = int(
            hashlib.md5(f"wrs_{doc_id}".encode()).hexdigest()[:8], 16
        )
        return math.log((h + 0.5) / 4294967296.0) / w

    want = sorted(
        ((key(r.doc_id, r.n_chars), -r.doc_id) for r in docs.itertuples()),
        reverse=True,
    )[:WRS_K]
    assert [r["doc_id"] for r in rows] == [-d for _, d in want]


def test_ips_match_rate_tracks_uniform_propensity(spark):
    """Under ~uniform behavior the policy matches ~1/5 of logged events,
    and SNIPS must equal the mean reward over matched events."""
    from bigdata_group4_app_spark.operators.advanced import (
        OPE_PROPENSITY,
        ips_policy_value,
    )

    rows = ips_policy_value(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert 0.5 * OPE_PROPENSITY < r["match_rate"] < 2.0 * OPE_PROPENSITY
        # IPS = match_rate * SNIPS / propensity identity (within rounding)
        assert r["ips_value"] == pytest.approx(
            r["match_rate"] * r["snips_value"] / OPE_PROPENSITY, rel=5e-3
        )
        assert r["n_matched"] <= r["n_logged"]
