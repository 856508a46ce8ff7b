"""Round-6 regression tests: the three round-5 ADVICE fixes.

1. BPE oracle merge-exhaustion fallback — when merges run dry before
   ``BPE_ENC_MERGES`` rounds, the oracle's per-round vocabulary must
   carry forward (mirroring the Spark loop's ``break``), not empty out.
2. SemDeDup BLAS prefilter margin sits strictly below the half-up
   rounding half-width (no boundary candidate can be dropped).
3. PQ audit distance scale is 1e6 (ANSI BIGINT-sum overflow headroom),
   on BOTH engines.
"""

from __future__ import annotations

import duckdb
import pytest

from .conftest import SF_CORRECT


def test_bpe_oracle_carries_vocab_past_merge_exhaustion(monkeypatch):
    """A corpus whose only word is 'ab' exhausts BPE after ONE merge;
    with BPE_ENC_MERGES=3 the oracle must still report the round-1 rule
    and a NON-empty final vocabulary (the round-5 ADVICE latent bug:
    the empty m{r} cross join emptied v{r} for all later rounds)."""
    from bigdata_group4_app_spark.operators import text as text_mod

    monkeypatch.setattr(text_mod, "BPE_ENC_MERGES", 3)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        "SELECT 0 AS doc_id, 'ab ab' AS text, 'en' AS lang, 'web' AS source"
    )
    enc = con.execute(text_mod._duck_bpe_encode_sql()).fetchall()
    # merges exhaust after round 1: exactly one learned rule, 'a b',
    # corpus collapses to 2 one-token words
    assert enc == [(1, "a b", 2, 2, 2.0)]
    fert = con.execute(text_mod._duck_bpe_fertility_sql()).fetchall()
    # WITHOUT the fallback this came back empty (v2, v3 cross-joined the
    # empty m2/m3); WITH it the final vocab is the round-1 state
    assert fert == [(1, 1, 2)]


def test_bpe_oracle_unchanged_when_merges_do_not_exhaust():
    """The fallback branch must be a no-op when every round finds a
    merge: NOT EXISTS(m{r}) is false, so the UNION ALL adds nothing."""
    from bigdata_group4_app_spark.operators import text as text_mod

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        "SELECT 0 AS doc_id, 'abcdefgh abcdefgh' AS text, "
        "'en' AS lang, 'web' AS source"
    )
    enc = con.execute(text_mod._duck_bpe_encode_sql()).fetchall()
    assert len(enc) == text_mod.BPE_ENC_MERGES  # a rule every round
    # 8-char word, 6 merges -> 2 symbols left per word
    assert enc[-1][3] == 2 * 2


def test_semdedup_prefilter_margin_below_rounding_halfwidth():
    """The candidacy gate must sit strictly below T - 5e-5 (the half-up
    half-width at 4dp), so a BLAS value ~1e-15 under the fold can never
    drop a pair whose fold cosine rounds up to the threshold."""
    import inspect

    from bigdata_group4_app_spark.operators import similarity as sim
    from bigdata_group4_app_spark.operators.dedup import (
        COSINE_DUP_THRESHOLD,
    )

    src = inspect.getsource(sim._semantic_pairs)
    assert "5e-5 - 1e-9" in src
    # the boundary point itself: fold cosine exactly T-5e-5 rounds UP to
    # T; the gate must admit BLAS values down to ~1e-9 below that
    boundary = COSINE_DUP_THRESHOLD - 5e-5
    gate = COSINE_DUP_THRESHOLD - 5e-5 - 1e-9
    assert gate < boundary - 1e-10


def test_ivfpq_recall_floor_vs_brute_force(spark):
    """ADC search over 2-of-4 probed cells with a 50-candidate exact
    rerank must recover well over half the exact top-5 (measured 0.64 at
    sf0.01 — deterministic; random 50-of-~250 shortlisting inside the
    probed cells would land ~0.15). The floor guards both the coarse
    quantizer and the ADC ranking doing real work."""
    from bigdata_group4_app_spark.operators.similarity import (
        IVFPQ_TOP_K,
        knn_brute_force,
        knn_ivfpq,
    )

    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_brute_force(spark, SF_CORRECT).collect()
        if r["rank"] <= IVFPQ_TOP_K
    }
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivfpq(spark, SF_CORRECT).collect()
    }
    assert len(bf & pq) / len(bf) >= 0.6


def test_ivfpq_adc_approximates_true_distance(spark):
    """The 1e6-scaled ADC integer must track the true squared L2
    distance: reconstruct d̂ = adc/1e6 per emitted pair and compare to
    the exact squared distance computed from the raw vectors — PQ with
    m=4, k=4 over near-orthogonal synthetic 64-d data is COARSE (that
    accuracy/compression trade is exactly what ``pq_codebook_audit``
    reports), so the bound is loose but real: every emitted row within
    75% relative error, mean within 55% (measured max 0.63 / mean 0.44
    at sf0.01 — deterministic). An unrelated integer (wrong LUT
    indexing, wrong scale) lands orders of magnitude off."""
    import numpy as np

    from bigdata_group4_app_spark.operators.similarity import knn_ivfpq
    from bigdata_group4_app_spark.sources.registry import load_table

    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF_CORRECT, "embeddings").collect()
    }
    rows = knn_ivfpq(spark, SF_CORRECT).collect()
    assert rows
    rels = []
    for r in rows:
        true_d2 = float(
            ((emb[r["query_id"]] - emb[r["neighbor_id"]]) ** 2).sum()
        )
        approx = r["adc"] / 1e6
        rels.append(abs(approx - true_d2) / true_d2)
    assert max(rels) < 0.75
    assert sum(rels) / len(rels) < 0.55


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_two_pass_shard_assignment_equals_global_window(spark, sf_dir):
    """The distributed two-pass prefix sum must produce the IDENTICAL
    (doc_id, n_toks, shard_id) manifest as the one-reducer global
    window it replaced — cumulative-before-this-doc totals are
    invariant to bucket boundaries."""
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.operators.corpus import (
        SHARD_TOKENS,
        _shard_doc_assignments,
    )
    from bigdata_group4_app_spark.sources.registry import load_table

    got = sorted(
        tuple(r) for r in _shard_doc_assignments(spark, sf_dir).collect()
    )
    docs = load_table(spark, sf_dir, "documents")
    ref = sorted(
        tuple(r)
        for r in docs.select(
            "doc_id",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_toks"),
        )
        .select(
            "doc_id",
            "n_toks",
            F.expr(
                f"CAST((sum(n_toks) OVER (ORDER BY doc_id ROWS BETWEEN"
                f" UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks)"
                f" div {SHARD_TOKENS} AS BIGINT)"
            ).alias("shard_id"),
        )
        .collect()
    )
    assert got == ref


def test_two_pass_shard_assignment_plan_has_no_global_doc_sort(spark):
    """The corpus-sized relation must NOT pass through a
    single-partition ordered window: the doc-level window partitions by
    bkt, and the only SinglePartition exchange in the plan feeds the
    |buckets|-row aggregate, never the docs scan."""
    from bigdata_group4_app_spark.operators.corpus import (
        _shard_doc_assignments,
    )

    plan = (
        _shard_doc_assignments(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the doc-level prefix window is bucket-partitioned
    assert "windowspecdefinition(bkt" in plan
    lines = plan.splitlines()
    single = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    assert len(single) == 1  # only the tiny bucket-offsets window
    # ...and its subtree is the per-bucket aggregate, not the docs scan
    window_of_aggregate = any(
        "HashAggregate" in ln for ln in lines[single[0] : single[0] + 3]
    )
    assert window_of_aggregate, plan


def test_semantic_survivors_replay_from_stage_operators(spark):
    """The funnel contract: ``semantic_dedup_survivors`` must equal a
    driver-side replay composed from its stage operators — union-find
    components over the ``semantic_dedup_pairs`` edges, then
    keep-best-quality (tie → lowest id) using the shared quality
    score."""
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.operators.similarity import (
        semantic_dedup_pairs,
        semantic_dedup_survivors,
    )
    from bigdata_group4_app_spark.operators.text import quality_score_col
    from bigdata_group4_app_spark.sources.registry import load_table

    pairs = [
        (r["vec_id_a"], r["vec_id_b"])
        for r in semantic_dedup_pairs(spark, SF_CORRECT).collect()
    ]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    docs = load_table(spark, SF_CORRECT, "documents").withColumn(
        "toks", F.split(F.trim(F.col("text")), r"\s+")
    )
    quality = {
        r["doc_id"]: r["q"]
        for r in docs.select("doc_id", quality_score_col().alias("q")).collect()
    }
    clusters: dict[int, list[int]] = {}
    for node in parent:
        clusters.setdefault(find(node), []).append(node)
    want = {}
    for cid, members in clusters.items():
        best = max(members, key=lambda d: (quality[d], -d))
        want[cid] = (
            len(members),
            best,
            quality[best],
            len(members) - 1,
        )
    got = {
        r["cluster_id"]: (
            r["n_docs"],
            r["survivor_id"],
            r["survivor_quality"],
            r["n_dropped"],
        )
        for r in semantic_dedup_survivors(spark, SF_CORRECT).collect()
    }
    assert got == want


def test_ivfpq_survives_empty_pq_codeword(spark, tmp_path):
    """A codeword whose Lloyd cluster empties drops out of the fitted
    codebook; the ADC lookup-table build must NOT throw on the dead
    (m, code) slot under ANSI mode (try_element_at, round-6 review
    finding), and Spark must still agree with the DuckDB oracle, which
    only ever joins live codes. Forced here by duplicating vec 0 as
    vec 3: init code 3 == code 0 in every subspace, ties break to the
    lower code, so cluster 3 empties after round 1 — the same collapse
    empties coarse cell 3, covering the kmeans rank path too."""
    import duckdb

    from bigdata_group4_app_spark.operators.similarity import knn_ivfpq
    from bigdata_group4_app_spark.registry import ORACLE_REGISTRY

    def vec(i):
        if i == 3:
            i = 0
        return [float(((i * 7 + d * 3) % 11) - 5) for d in range(64)]

    rows = [(i, vec(i), i % 3) for i in range(10)]
    sdf = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>, label int"
    )
    sdf.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = [tuple(r) for r in knn_ivfpq(spark, str(tmp_path)).collect()]
    assert got  # old element_at form threw INVALID_ARRAY_INDEX here
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    want = [tuple(r) for r in con.execute(ORACLE_REGISTRY["knn_ivfpq"]).fetchall()]
    assert got == want


def test_scaled_k_semdedup_floors_to_fixed_entry(spark):
    """At the oracle SF (N=500 < KMEANS_K * SEMDEDUP_CELL_POP) the
    production k = N div cell_pop floors to KMEANS_K, so the scaled
    probe target must be BIT-identical to the oracle-checked fixed-k
    entry — the bridge that lets the fixed entry carry the oracle while
    the scaled one carries the scaling contract."""
    from bigdata_group4_app_spark.operators.similarity import (
        semantic_dedup_pairs,
        semantic_dedup_pairs_scaled,
    )

    a = [tuple(r) for r in semantic_dedup_pairs(spark, SF_CORRECT).collect()]
    b = [
        tuple(r)
        for r in semantic_dedup_pairs_scaled(spark, SF_CORRECT).collect()
    ]
    assert a == b and a


def test_bpe_shard_budgets_differ_from_whitespace(spark):
    """BPE fertility > 1 on multi-symbol words means every doc prices
    HIGHER than its whitespace count — shard budgets must reflect that
    (more shards, strictly larger token totals), and the totals must
    equal the summed per-doc fertility pricing."""
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.operators.corpus import (
        pack_shards,
        pack_shards_bpe,
    )
    from bigdata_group4_app_spark.operators.text import (
        _bpe_train,
        _with_tokens,
    )

    ws = pack_shards(spark, SF_CORRECT).collect()
    bpe = pack_shards_bpe(spark, SF_CORRECT).collect()
    assert sum(r["n_tokens"] for r in bpe) > sum(r["n_tokens"] for r in ws)
    assert len(bpe) > len(ws)  # same budget, pricier docs -> more shards
    # total equals the direct fertility pricing of the corpus
    _, vocab, _ = _bpe_train(spark, SF_CORRECT)
    fert = {
        "".join(r["syms"]): len(r["syms"]) for r in vocab.collect()
    }
    toks = (
        _with_tokens(spark, SF_CORRECT)
        .select(F.explode("toks").alias("tok"))
        .collect()
    )
    want_total = sum(fert.get(r["tok"].lower(), 1) for r in toks)
    assert sum(r["n_tokens"] for r in bpe) == want_total


def test_pq_audit_distance_scale_is_1e6_both_engines():
    """ANSI Spark THROWS on BIGINT sum overflow; the 1e6 scale keeps
    ~9e12 vectors/codeword of headroom where 1e8 approached 2^63 at
    ~1e9. Both the Spark expression and the oracle must use it."""
    import inspect

    from bigdata_group4_app_spark.operators import similarity as sim

    src = inspect.getsource(sim.pq_codebook_audit)
    assert "100000000" not in src and "1000000" in src
    sql = sim._duck_pq_sql()
    assert "100000000" not in sql and "1000000" in sql


def test_dsir_selects_target_vocabulary_docs(spark, tmp_path):
    """DSIR's whole point, pinned on a corpus where it can show: 30
    target docs (quality 1.0 — long, all-distinct vocab, stopwords in
    band) share a distinctive vocabulary; 30 junk docs (quality ~0.22)
    are repeated filler. The importance-resampled top-25 must be drawn
    ENTIRELY from the target-vocabulary slice (base rate 0.5), weights
    rank-sorted descending and positive for selected docs — and Spark
    must agree with the DuckDB oracle on this corpus too (the sf0.01
    driver check covers the real testdata; here the signal is planted).
    The sf0.01 corpus itself is quality-homogeneous in vocabulary, so
    no enrichment pin is possible there — that is data, not a bug."""
    import duckdb as _dd

    from bigdata_group4_app_spark.operators.corpus import (
        DSIR_TOP,
        dsir_importance_select,
    )
    from bigdata_group4_app_spark.registry import ORACLE_REGISTRY

    def good(i):
        # 28 distinct content words + 2 stopwords: diversity 1.0,
        # stop_ratio 2/30 in [0.02, 0.4], padded past 500 chars
        words = [f"alpha{i}x{j}" for j in range(28)] + ["the", "of"]
        t = " ".join(words)
        return (i, t + " " * (max(0, 501 - len(t)) + 1), "en", "web", 600)

    def junk(i):
        t = " ".join(["zzz"] * 20)
        return (i, t, "en", "web", len(t))

    rows = [good(i) for i in range(30)] + [junk(i) for i in range(30, 60)]
    sdf = spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    sdf.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    sel = dsir_importance_select(spark, str(tmp_path)).collect()
    assert len(sel) == DSIR_TOP
    weights = [r["log_weight"] for r in sel]
    assert weights == sorted(weights, reverse=True)
    assert all(r["doc_id"] < 30 for r in sel)  # all from the target slice
    assert all(w > 0 for w in weights)

    con = _dd.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    want = [
        tuple(r)
        for r in con.execute(
            ORACLE_REGISTRY["dsir_importance_select"]
        ).fetchall()
    ]
    assert [tuple(r) for r in sel] == want


def _nnd_exact_top4(spark):
    """Exact cosine top-4 per sampled node, via the oracle-grade DuckDB
    brute force (bounded: sampled nodes × corpus)."""
    from bigdata_group4_app_spark.functions.vector_sql import (
        duck_cosine_sql,
        duck_l2_sql,
    )
    from bigdata_group4_app_spark.operators.similarity import NND_SAMPLE_MOD

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{SF_CORRECT}/embeddings.parquet'"
    )
    cos = duck_cosine_sql("a.embedding", "b.embedding", "na.nrm", "nb.nrm")
    rows = con.execute(f"""
WITH norms AS (SELECT vec_id, {duck_l2_sql('embedding')} AS nrm FROM embeddings),
c AS (
  SELECT a.vec_id AS u, b.vec_id AS v, {cos} AS s
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = b.vec_id
  WHERE a.vec_id % {NND_SAMPLE_MOD} = 0
)
SELECT u, v FROM (
  SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY s DESC, v) AS rn
  FROM c
) WHERE rn <= 4
""").fetchall()
    exact = {}
    for u, v in rows:
        exact.setdefault(u, set()).add(v)
    return exact


def _nnd_recall(spark, rounds, monkeypatch):
    from bigdata_group4_app_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "NND_ROUNDS", rounds)
    g = {}
    for r in sim.knn_graph_nndescent(spark, SF_CORRECT).collect():
        g.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    exact = _nnd_exact_top4(spark)
    hits = sum(len(exact[u] & g.get(u, set())) for u in exact)
    return hits / (4 * len(exact))


def test_nndescent_recall_floor_and_descent_gain(spark, monkeypatch):
    """Two pinned facts on the NN-Descent graph at sf0.01:

    (a) recall@4 of the converged graph vs the exact brute-force graph
        clears 0.4 (measured ~0.55 with k=10, 2 rounds) — this testdata
        is near-uniform on the sphere (neighbor-of-neighbor overlap 3%),
        NN-Descent's worst case, so the floor is deliberately modest;
    (b) the descent rounds themselves add recall: the converged graph
        must beat the stride-ring init graph (rounds=0) by >= 2x —
        the invariant that the neighbor-of-neighbor exploration does
        real work even without manifold structure to exploit.
    """
    init_recall = _nnd_recall(spark, 0, monkeypatch)
    full_recall = _nnd_recall(spark, 2, monkeypatch)
    assert full_recall >= 0.4, full_recall
    assert full_recall >= 2 * init_recall, (init_recall, full_recall)


def test_logreg_gd_descends_and_learns_the_rule(spark):
    """Pinned facts on the distributed logistic-GD trainer at sf0.01:
    log-loss strictly decreases EVERY round (full-batch GD at a stable
    LR on a linearly-separable-ish label must descend monotonically);
    final accuracy clears 0.8 (base rate 0.627); and the learned signs
    recover the generating rule Churn = [4*SC + 2*PD + (72-Tenure) >= 94]
    (support-calls and payment-delay positive, tenure negative)."""
    from bigdata_group4_app_spark.ml.scoring import logreg_churn_gd

    rows = logreg_churn_gd(spark, SF_CORRECT).collect()
    assert len(rows) == 10
    lls = [r["log_loss"] for r in rows]
    assert all(b < a for a, b in zip(lls, lls[1:])), lls
    assert rows[0]["log_loss"] == pytest.approx(0.693147, abs=1e-6)  # w=0
    assert rows[-1]["accuracy"] >= 0.8
    assert rows[-1]["w_support_calls"] > 0
    assert rows[-1]["w_payment_delay"] > 0
    assert rows[-1]["w_tenure"] < 0


def test_hll_error_bound_and_register_merge(spark):
    """(a) Every scope's HLL estimate lands within 3x the theoretical
    standard error (1.04/sqrt(256) = 6.5% -> 19.5%) of the exact
    distinct count. (b) Genuine mergeability: registers built on two
    disjoint halves of the corpus and max-merged are IDENTICAL to
    registers built on the full corpus (the property that lets 1000
    executors sketch independently and union for free)."""
    from bigdata_group4_app_spark.operators.sketches import (
        hll_ngram_cardinality,
    )
    from bigdata_group4_app_spark.operators.dedup import duck_shingles_ctes

    for r in hll_ngram_cardinality(spark, SF_CORRECT).collect():
        assert abs(r["err_pct"]) <= 19.5, (r["scope"], r["err_pct"])

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{SF_CORRECT}/documents.parquet'"
    )
    regs = con.execute(f"""
WITH {duck_shingles_ctes().strip()},
hashed AS (
  SELECT doc_id, h // 4503599627370496 AS bucket,
    CASE WHEN h % 4503599627370496 = 0 THEN 52
         ELSE 53 - length(bin(h % 4503599627370496)) END AS rank
  FROM shingles
),
full_regs AS (SELECT bucket, max(rank) AS m FROM hashed GROUP BY 1),
lo AS (SELECT bucket, max(rank) AS m FROM hashed WHERE doc_id < 250 GROUP BY 1),
hi AS (SELECT bucket, max(rank) AS m FROM hashed WHERE doc_id >= 250 GROUP BY 1),
merged AS (
  SELECT bucket, max(m) AS m
  FROM (SELECT * FROM lo UNION ALL SELECT * FROM hi) GROUP BY 1
)
SELECT count(*) FILTER (f.m IS DISTINCT FROM m.m) AS diffs,
       count(*) AS total
FROM full_regs f FULL JOIN merged m USING (bucket)
""").fetchone()
    assert regs[0] == 0 and regs[1] > 0, regs


def test_cart_tree_structure_and_accuracy(spark):
    """The depth-2 CART's leaves must partition the training set
    exactly (leaf n's sum to the root n, same for positives), and the
    leaf-majority classifier must beat the base rate by a real margin
    (the synthetic label is a linear rule, so axis-aligned splits
    capture a large chunk of it)."""
    from bigdata_group4_app_spark.ml.cart import cart_churn_tree

    rows = {r["node_id"]: r for r in cart_churn_tree(spark, SF_CORRECT).collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6, 7}
    root = rows[1]
    leaves = [rows[i] for i in (4, 5, 6, 7)]
    assert sum(l["n"] for l in leaves) == root["n"]
    assert sum(l["n_pos"] for l in leaves) == root["n_pos"]
    assert root["split_feature"] in {"pd", "sc", "tn"}
    assert all(l["prediction"] in (0, 1) for l in leaves)
    correct = sum(
        l["n_pos"] if l["prediction"] == 1 else l["n"] - l["n_pos"]
        for l in leaves
    )
    acc = correct / root["n"]
    base = max(root["n_pos"], root["n"] - root["n_pos"]) / root["n"]
    assert acc >= base + 0.05, (acc, base)


def test_kneser_ney_beats_add_one_smoothing(spark):
    """Interpolated KN assigns seen bigrams more mass than add-one
    (which donates a full count to every unseen type), so on the
    training corpus its perplexity must be strictly lower; both sit in
    (1, vocab] for this ~31-word corpus."""
    from bigdata_group4_app_spark.operators.text import (
        kneser_ney_perplexity,
        ngram_lm_perplexity,
    )

    kn = {
        r["lang"]: r["avg_ppl"]
        for r in kneser_ney_perplexity(spark, SF_CORRECT).collect()
    }
    addone = [
        r["perplexity"]
        for r in ngram_lm_perplexity(spark, SF_CORRECT).collect()
    ]
    addone_mean = sum(addone) / len(addone)
    for lang, ppl in kn.items():
        assert 1.0 < ppl < 40.0, (lang, ppl)
        assert ppl < addone_mean, (lang, ppl, addone_mean)


def test_ams_f2_error_bound_and_linearity(spark):
    """(a) The median-of-means F2 estimate lands within the k=64 noise
    envelope (|err| <= 60%; measured +1.1% at sf0.01, -43% at sf0.1)
    and between the group-mean extremes. (b) AMS is a LINEAR sketch:
    Z_j computed on two disjoint halves of the stream SUMS to Z_j on
    the full stream — the property that makes the reduce side carry 64
    counters per partition instead of raw keys."""
    from bigdata_group4_app_spark.functions.hashing import duck_md5_int60
    from bigdata_group4_app_spark.operators.sketches import (
        _duck_ams_bit,
        ams_f2_sketch,
    )

    row = ams_f2_sketch(spark, SF_CORRECT).collect()[0]
    assert abs(row["err_pct"]) <= 60.0, row
    assert row["min_group_mean"] <= row["est_f2"] <= row["max_group_mean"]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_CORRECT}/events.parquet'"
    )
    ha = duck_md5_int60("concat('f2a|', CAST(user_id AS VARCHAR))")
    hb = duck_md5_int60("concat('f2b|', CAST(user_id AS VARCHAR))")
    sign_cols = ", ".join(
        f"CAST(sum({_duck_ams_bit(j)}) AS BIGINT) AS z{j}" for j in range(64)
    )
    halves = []
    for name, pred in (("lo", "event_id % 2 = 0"), ("hi", "event_id % 2 = 1"),
                       ("full_z", "TRUE")):
        halves.append(
            f"{name} AS (SELECT {sign_cols} FROM "
            f"(SELECT event_id, {ha} AS ha, {hb} AS hb FROM events) "
            f"WHERE {pred})"
        )
    checks = " + ".join(
        f"CAST(f.z{j} IS DISTINCT FROM lo.z{j} + hi.z{j} AS INT)"
        for j in range(64)
    )
    diffs = con.execute(
        "WITH " + ", ".join(halves)
        + f" SELECT {checks} FROM full_z f, lo, hi"
    ).fetchone()[0]
    assert diffs == 0


def test_pca_power_iteration_rayleigh_ascent(spark, monkeypatch):
    """Two pinned facts at sf0.01: (a) the eigenvalue estimate (matvec
    norm) ascends monotonically with rounds — power iteration's
    invariant even on this near-isotropic spectrum (lambda1/lambda2 =
    1.013, its worst case); (b) after 6 rounds the estimate reaches
    >= 90% of the true top eigenvalue (numpy eigh on the same 6dp
    covariance), and the returned loading vector is unit-norm to the
    1e-6 quantization."""
    import numpy as np

    from bigdata_group4_app_spark.operators import similarity as sim

    ests = []
    for rounds in (2, 4, 6):
        monkeypatch.setattr(sim, "PCA_PI_ROUNDS", rounds)
        rows = sim.pca_power_iteration(spark, SF_CORRECT).collect()
        ests.append(rows[0]["eigenvalue_est"])
    assert ests[0] <= ests[1] <= ests[2], ests

    v = np.array([r["loading"] for r in rows])
    assert abs(np.linalg.norm(v) - 1.0) < 1e-4

    cov = {
        (r["dim_i"], r["dim_j"]): r["cov"]
        for r in sim.embedding_covariance(spark, SF_CORRECT).collect()
    }
    C = np.zeros((64, 64))
    for (i, j), c in cov.items():
        C[i, j] = C[j, i] = c
    lam1 = np.linalg.eigvalsh(C)[-1]
    assert ests[2] >= 0.9 * lam1, (ests[2], lam1)


def test_oof_encoding_excludes_own_fold(spark):
    """Independent integer replay: for every (category, fold) the
    emitted rate must equal the churn rate of the OTHER folds computed
    from the raw relation — i.e. the row's own fold is fully excluded
    (the leakage-safety contract), and it must differ from the naive
    all-folds rate for at least some cells (the delta column is live)."""
    from collections import defaultdict

    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.ml.scoring import (
        OOF_FOLDS,
        oof_target_encoding,
    )
    from bigdata_group4_app_spark.plans.churn import churn_customers

    raw = churn_customers(spark, SF_CORRECT).select(
        "CustomerID", "Subscription Type", "Contract Length", "Churn"
    ).collect()
    n = defaultdict(int)
    pos = defaultdict(int)
    for r in raw:
        key = (
            f"{r['Subscription Type']}|{r['Contract Length']}",
            r["CustomerID"] % OOF_FOLDS,
        )
        n[key] += 1
        pos[key] += r["Churn"]

    deltas = []
    for row in oof_target_encoding(spark, SF_CORRECT).collect():
        cat, fold = row["category"], row["fold"]
        n_o = sum(v for (c, f), v in n.items() if c == cat and f != fold)
        p_o = sum(v for (c, f), v in pos.items() if c == cat and f != fold)
        assert row["oof_churn_rate"] == round_half_up(p_o / n_o, 4) + 0.0
        deltas.append(row["leakage_delta"])
    assert any(d != 0.0 for d in deltas)


def test_did_placebo_is_null_and_internally_consistent(spark):
    """The treatment split is user parity — a PLACEBO, so the DiD
    readout must be statistically null (|t| < 4; measured 0.50) while
    the cells stay internally consistent: the estimate equals the
    four-cell combination of the emitted means (half-up at 4dp), and
    every user lands in both periods at sf0.01 (cell n's equal)."""
    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.operators.stats import did_estimate

    r = did_estimate(spark, SF_CORRECT).collect()[0]
    assert abs(r["t_stat"]) < 4.0, r
    recon = (r["m_t_post"] - r["m_t_pre"]) - (r["m_c_post"] - r["m_c_pre"])
    assert r["did_estimate"] == round_half_up(recon, 4) + 0.0
    assert r["n_t_pre"] == r["n_t_post"] and r["n_c_pre"] == r["n_c_post"]


def test_holt_winters_matches_python_decimal_replay(spark):
    """Third-engine replay: the full HW recurrence re-run in Python
    with EXACT integer fixed-point state (1e4-scaled BIGINT, the
    round-7 rewrite after the 4dp-double state diverged cross-engine
    at sf0.001) must reproduce every Spark fitted value and forecast
    bit-for-bit. The only roundings are at integer positions of exact
    k/2^m fractions (Decimal half-up == both engines' round-half-away
    on representable halves) and the two /7 initialisers (a k/7
    fraction is never a half)."""
    from collections import defaultdict

    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.operators.advanced import (
        HW_HORIZON,
        holt_winters_daily,
    )
    from bigdata_group4_app_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    daily = (
        load_table(spark, SF_CORRECT, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.round(F.avg("value"), 4).alias("v"))
        .orderBy("day")
        .collect()
    )
    ys = [int(round_half_up(r["v"] * 10000, 0)) for r in daily]

    def rint(num: int, den: int) -> int:
        # exact binary fraction -> Decimal(repr) is exact -> half-up
        return int(round_half_up(num / den, 0))

    w1 = rint(sum(ys[:7]), 7)
    w2 = rint(sum(ys[7:14]), 7)
    lev, tr = w1, rint(w2 - w1, 7)
    s = [ys[k] - w1 for k in range(7)]
    fits = []
    for y in ys[7:]:
        s7 = s[0]
        fits.append((lev + tr + s7) / 10000.0)
        ln = rint((y - s7) + 3 * (lev + tr), 4)
        trn = rint((ln - lev) + 7 * tr, 8)
        sn = rint((y - ln) + 3 * s7, 4)
        lev, tr, s = ln, trn, s[1:] + [sn]
    fcs = [
        (lev + h * tr + s[h - 1]) / 10000.0
        for h in range(1, HW_HORIZON + 1)
    ]

    rows = holt_winters_daily(spark, SF_CORRECT).collect()
    got = defaultdict(list)
    for r in rows:
        got[r["kind"]].append(r["predicted"])
    assert got["fit"] == fits
    assert got["forecast"] == fcs


def test_bh_fdr_stepup_and_pvalues(spark):
    """BH invariants: ranks follow ascending p; the rejected set is
    exactly ranks 1..k where k is the largest rank with p ≤ rank·q/m
    (a contiguous prefix — never a gap); q-values are monotone in rank
    and ≥ their own p; and the A&S polynomial p agrees with an
    independent erfc() computation within its published 7.5e-8 bound
    (plus the 4dp grain). The sf0.01 family must show a real MIX: at
    least one rejection and at least one non-rejection, which is the
    whole point of the step-up (Bonferroni rejects nothing here)."""
    import math

    from bigdata_group4_app_spark.operators.stats import (
        BH_Q,
        bh_fdr_user_deviations,
    )

    rows = bh_fdr_user_deviations(spark, SF_CORRECT).collect()
    m = len(rows)
    ps = [r["p"] for r in rows]
    assert ps == sorted(ps)
    assert [r["rank"] for r in rows] == list(range(1, m + 1))
    hits = [r["rank"] for r in rows if r["p"] <= r["rank"] * BH_Q / m]
    k = max(hits) if hits else 0
    assert [r["rejected"] for r in rows] == [r["rank"] <= k for r in rows]
    assert 1 <= sum(r["rejected"] for r in rows) < m
    qs = [r["q_value"] for r in rows]
    assert qs == sorted(qs) and all(q >= p for q, p in zip(qs, ps))
    for r in rows[:20]:
        ref = 2.0 * (0.5 * math.erfc(abs(r["z"]) / math.sqrt(2.0)))
        assert abs(r["p"] - ref) < 2e-4, (r["z"], r["p"], ref)


def test_nb_confusion_covers_holdout_exactly(spark):
    """Structural contract: every md5-holdout doc is classified exactly
    once (confusion cell counts sum to the independently computed 20%
    split size), predictions only come from languages seen in training,
    and the matrix is non-degenerate (more than one predicted lang —
    the smoothed likelihoods must differentiate SOMETHING even on
    synthetic lang-independent tokens)."""
    from bigdata_group4_app_spark.functions.hashing import md5_int_sql
    from bigdata_group4_app_spark.operators.text import (
        NB_TRAIN_PCT,
        nb_lang_confusion,
    )
    from bigdata_group4_app_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    rows = nb_lang_confusion(spark, SF_CORRECT).collect()
    docs = load_table(spark, SF_CORRECT, "documents")
    split = docs.select(
        (
            F.expr(md5_int_sql("CAST(doc_id AS STRING)")) % 10
            >= NB_TRAIN_PCT
        ).alias("held")
    )
    n_hold = split.filter("held").count()
    assert sum(r["n_docs"] for r in rows) == n_hold
    train_langs = {
        r["lang"]
        for r in docs.select("lang").distinct().collect()
    }
    assert {r["pred_lang"] for r in rows} <= train_langs
    assert len({r["pred_lang"] for r in rows}) > 1


def test_segmented_trend_matches_numpy_ols(spark):
    """Independent fit check: numpy lstsq per side (float OLS) must
    agree with the engine's exact-integer closed form within the 1e-4
    fixed-point grain, and the breakpoint must equal the one
    cusum_changepoint emits (shared definition, not a re-derivation)."""
    import numpy as np

    from bigdata_group4_app_spark.operators.stats import (
        cusum_changepoint,
        segmented_trend_fit,
    )
    from bigdata_group4_app_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    fits = {r["event_type"]: r for r in
            segmented_trend_fit(spark, SF_CORRECT).collect()}
    brk = {r["event_type"]: r["changepoint_day"] for r in
           cusum_changepoint(spark, SF_CORRECT).collect()}
    daily = (
        load_table(spark, SF_CORRECT, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 4).alias("x"))
        .collect()
    )
    series = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["day"], r["x"]))
    for et, row in fits.items():
        assert row["changepoint_day"] == brk[et]
        pts = sorted(series[et])
        day0 = pts[0][0]
        for side, sl_col, ic_col in [
            (lambda d: d <= brk[et], "slope_left", "intercept_left"),
            (lambda d: d > brk[et], "slope_right", "intercept_right"),
        ]:
            sub = [((d - day0).days, x) for d, x in pts if side(d)]
            t = np.array([p[0] for p in sub], dtype=float)
            y = np.array([p[1] for p in sub], dtype=float)
            slope, icept = np.polyfit(t, y, 1)
            assert abs(row[sl_col] - slope) < 2e-4, (et, sl_col)
            assert abs(row[ic_col] - icept) < 5e-3, (et, ic_col)


def test_ewma_chart_matches_integer_replay(spark):
    """Python integer replay of the full chart (state in 1e4/1e8-scaled
    ints, round_half_up at integer positions — the discipline the
    operator uses) must reproduce every emitted ewma/ucl/lcl/signal;
    limits must widen monotonically toward the asymptote (the
    variance-correction factor grows in t)."""
    import math

    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.operators.advanced import (
        EWMA_BASE,
        EWMA_L,
        EWMA_LAMBDA,
        ewma_control_chart,
    )
    from bigdata_group4_app_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    daily = (
        load_table(spark, SF_CORRECT, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.round(F.avg("value"), 4).alias("v"))
        .orderBy("day")
        .collect()
    )
    ys = [int(round_half_up(r["v"] * 10000.0, 0)) for r in daily]
    base = ys[:EWMA_BASE]
    mu0 = int(round_half_up(sum(base) / float(EWMA_BASE), 0))
    var_num = EWMA_BASE * sum(y * y for y in base) - sum(base) ** 2
    sd0 = math.sqrt(var_num / float(EWMA_BASE * (EWMA_BASE - 1)))
    e, p = mu0, 10**8
    decay = (1.0 - EWMA_LAMBDA) ** 2
    expect = []
    for y in ys[EWMA_BASE:]:
        e = int(round_half_up(EWMA_LAMBDA * y + (1 - EWMA_LAMBDA) * e, 0))
        p = int(round_half_up(decay * p, 0))
        hw = int(
            round_half_up(
                EWMA_L
                * sd0
                * math.sqrt(EWMA_LAMBDA / (2.0 - EWMA_LAMBDA))
                * math.sqrt(1.0 - p / 1e8),
                0,
            )
        )
        expect.append((e / 1e4, (mu0 + hw) / 1e4, (mu0 - hw) / 1e4,
                       abs(e - mu0) > hw))
    rows = ewma_control_chart(spark, SF_CORRECT).collect()
    got = [(r["ewma"], r["ucl"], r["lcl"], r["signal"]) for r in rows]
    assert got == expect
    widths = [r["ucl"] - r["lcl"] for r in rows]
    assert all(b >= a - 1e-9 for a, b in zip(widths, widths[1:]))


def test_shapley_matches_exact_replay_and_efficiency(spark):
    """Full exact replay: rebuild the journey grid, the 16-row v-table
    (1e4-scaled ints) and the times-24 Shapley sums in Python integers —
    every emitted value must match exactly, and the efficiency identity
    Σφ = v(full) − v(∅) must hold in the integer arithmetic."""
    from collections import defaultdict

    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.operators.advanced import (
        SHAPLEY_CHANNELS,
        _SHAPLEY_W24,
        shapley_channel_attribution,
    )
    from bigdata_group4_app_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_CORRECT, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).collect()
    bit = dict(SHAPLEY_CHANNELS)
    cell = defaultdict(lambda: [0, 0])  # (user, day) -> [mask, conv]
    users, days = set(), set()
    for r in ev:
        users.add(r["user_id"])
        days.add(r["day"])
        c = cell[(r["user_id"], r["day"])]
        if r["event_type"] == "purchase":
            c[1] = 1
        else:
            c[0] |= bit[r["event_type"]]
    d0, d1 = min(days), max(days)
    stats = defaultdict(lambda: [0, 0])  # mask -> [n, conv]
    for u in users:
        d = d0
        while d <= d1:
            mask, conv = cell.get((u, d), (0, 0))
            stats[mask][0] += 1
            stats[mask][1] += conv
            d = d + __import__("datetime").timedelta(days=1)
    v = {
        m: int(round_half_up(10000.0 * c / n, 0)) if n else 0
        for m, (n, c) in stats.items()
    }
    v = {m: v.get(m, 0) for m in range(16)}
    rows = shapley_channel_attribution(spark, SF_CORRECT).collect()
    got = {r["channel"]: r for r in rows}
    total = 0.0
    for ch, b in SHAPLEY_CHANNELS:
        num24 = sum(
            _SHAPLEY_W24[bin(m).count("1")] * (v[m | b] - v[m])
            for m in range(16)
            if not m & b
        )
        assert got[ch]["shapley_lift"] == num24 / 240000.0, ch
        assert got[ch]["singleton_rate"] == v[b] / 10000.0, ch
        total += num24
    assert total / 240000.0 == (v[15] - v[0]) / 10000.0  # efficiency


def test_fs_scores_decompose_and_band_consistently(spark):
    """Each emitted pair's score must equal the sum of its agreement-
    vector weights recomputed independently (u from value frequencies,
    log2 weights via the half-up 1e6 grain), bands must follow the
    thresholds, and the list must be the sorted top-50."""
    import math
    from collections import Counter

    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.operators.dedup import (
        FS_LOWER_I6,
        FS_M,
        FS_TOP,
        FS_UPPER_I6,
        fs_linkage_scores,
    )
    from bigdata_group4_app_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    cust = load_table(spark, SF_CORRECT, "customer").select(
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / F.lit(100.0)).alias("band"),
        (F.col("c_custkey") % 100).alias("suffix"),
    ).collect()
    n = len(cust)
    w = {}
    for field, m in FS_M.items():
        freq = Counter(r[field] for r in cust)
        coll = sum(f * (f - 1) for f in freq.values())
        u = coll / (float(n) * float(n - 1))
        w[field] = (
            int(round_half_up(math.log2(m / u) * 1e6, 0)),
            int(round_half_up(math.log2((1.0 - m) / (1.0 - u)) * 1e6, 0)),
        )
    rows = fs_linkage_scores(spark, SF_CORRECT).collect()
    assert len(rows) == FS_TOP
    scores = [r["score_bits"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        s = sum(
            w[f][0] if r[f"agree_{f}"] else w[f][1] for f in FS_M
        )
        assert r["score_bits"] == s / 1e6, r
        want = (
            "link"
            if s >= FS_UPPER_I6
            else "possible" if s >= FS_LOWER_I6 else "nonlink"
        )
        assert r["band"] == want


def test_cmh_null_on_parity_and_replayed(spark):
    """The parity split is a placebo: CMH must read null (small χ²,
    OR ≈ 1, p not significant), and a Python float replay of the exact
    same stratum-ordered chains must reproduce χ²/OR/p at the 4dp
    grain."""
    import math

    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.operators.stats import (
        CMH_VALUE_THRESHOLD,
        cmh_stratified_test,
    )
    from bigdata_group4_app_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    row = cmh_stratified_test(spark, SF_CORRECT).collect()[0]
    assert row["chi2_cmh"] < 6.63  # not significant at alpha=0.01
    assert 0.85 < row["odds_ratio_mh"] < 1.15
    assert row["p_value"] > 0.01

    cells = (
        load_table(spark, SF_CORRECT, "events")
        .groupBy("event_type")
        .agg(
            F.sum(
                ((F.col("user_id") % 2 == 0)
                 & (F.col("value") >= CMH_VALUE_THRESHOLD)).cast("int")
            ).alias("a"),
            F.sum(
                ((F.col("user_id") % 2 == 0)
                 & (F.col("value") < CMH_VALUE_THRESHOLD)).cast("int")
            ).alias("b"),
            F.sum(
                ((F.col("user_id") % 2 != 0)
                 & (F.col("value") >= CMH_VALUE_THRESHOLD)).cast("int")
            ).alias("c"),
            F.sum(
                ((F.col("user_id") % 2 != 0)
                 & (F.col("value") < CMH_VALUE_THRESHOLD)).cast("int")
            ).alias("d"),
        )
        .orderBy("event_type")
        .collect()
    )
    sa = se = sv = sad = sbc = 0.0
    for r in cells:
        a, b, c, d = r["a"], r["b"], r["c"], r["d"]
        tt = float(a + b + c + d)
        sa += float(a)
        se += float(a + b) * (a + c) / tt
        sv += float(a + b) * (c + d) * (a + c) * (b + d) / (
            tt * tt * (tt - 1.0)
        )
        sad += float(a) * d / tt
        sbc += float(b) * c / tt
    chi2 = max(abs(sa - se) - 0.5, 0.0) ** 2 / sv
    assert row["chi2_cmh"] == round_half_up(chi2, 4) + 0.0
    assert row["odds_ratio_mh"] == round_half_up(sad / sbc, 4) + 0.0
    p_ref = math.erfc(math.sqrt(chi2) / math.sqrt(2.0))
    assert abs(row["p_value"] - p_ref) < 2e-4


def test_js_divergence_matches_replay_and_bounds(spark):
    """Exact i8-integer replay of every (lang, token) JS term must
    reproduce each language's js_bits; all values in [0, 1] bits and
    strictly positive (the language mixes do differ)."""
    from collections import Counter, defaultdict

    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.operators.text import (
        js_divergence_lang_mix,
    )
    from bigdata_group4_app_spark.sources.registry import load_table
    import math

    docs = load_table(spark, SF_CORRECT, "documents").select(
        "lang", "text"
    ).collect()
    lt = defaultdict(Counter)
    for r in docs:
        lt[r["lang"]].update(r["text"].strip().split())
    gt = Counter()
    for c in lt.values():
        gt.update(c)
    n_all = sum(gt.values())
    rows = js_divergence_lang_mix(spark, SF_CORRECT).collect()
    assert len(rows) == len(lt)
    for row in rows:
        lang = row["lang"]
        n_l = sum(lt[lang].values())
        assert row["n_tokens"] == n_l
        n_r = n_all - n_l
        s = 0
        for tok, g in gt.items():
            c = lt[lang].get(tok, 0)
            r_ = g - c
            p = c / n_l
            q = r_ / n_r
            m = (p + q) / 2.0
            t = 0.0
            if c > 0:
                t += p * math.log2(p / m)
            if r_ > 0:
                t += q * math.log2(q / m)
            s += int(round_half_up(t / 2.0 * 1e8, 0))
        assert row["js_bits"] == s / 1e8, lang
        assert 0.0 < row["js_bits"] <= 1.0


def test_bandit_replay_and_ips_agree(spark):
    """Both estimators are unbiased for the same policy value under
    uniform logging, so per-arm |replay − ips| must be small relative
    to the reward scale, replay counts must be a strict subset of
    logged counts (eps-greedy keeps ~ (1-eps)+eps/5 of greedy-matched
    logs), and the overall replay match rate must sit near the
    theoretical keep rate."""
    from bigdata_group4_app_spark.operators.advanced import (
        BANDIT_ARMS,
        BANDIT_EPS_PCT,
        bandit_replay_eval,
    )

    rows = bandit_replay_eval(spark, SF_CORRECT).collect()
    assert {r["greedy_arm"] for r in rows} <= set(BANDIT_ARMS)
    tot_logged = sum(r["n_logged"] for r in rows)
    tot_replayed = sum(r["n_replayed"] for r in rows)
    assert 0 < tot_replayed < tot_logged
    for r in rows:
        assert r["n_replayed"] <= r["n_logged"]
        if r["replay_value"] is not None:
            assert abs(r["replay_value"] - r["ips_value"]) < 25.0, r
    # keep rate ≈ P(sampled == logged); logged is ~uniform over 5 arms:
    # matched-greedy logs keep w.p. .92, others w.p. .02 → ~0.2 overall
    eps = BANDIT_EPS_PCT / 100.0
    exp_rate = 0.2 * ((1 - eps) + eps / 5) + 0.8 * (eps / 5)
    assert abs(tot_replayed / tot_logged - exp_rate) < 0.05


def test_jackknife_se_matches_replay_and_brackets_ratio(spark):
    """Python replay of the delete-one-day identity (exact i4/i6
    integer chains with half-up rounding) must reproduce ratio, SE and
    CI; the CI must bracket the point estimate symmetrically."""
    import math
    from collections import defaultdict

    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.operators.stats import jackknife_ratio_se
    from bigdata_group4_app_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_CORRECT, "events").select(
        F.to_date("ts").alias("day"), "event_type", "value"
    ).collect()
    pv = defaultdict(int)
    nc = defaultdict(int)
    for r in ev:
        if r["event_type"] == "purchase":
            pv[r["day"]] += int(round_half_up(r["value"] * 10000.0, 0))
        elif r["event_type"] == "click":
            nc[r["day"]] += 1
    days = sorted(set(pv) | set(nc))
    tpv, tnc = sum(pv.values()), sum(nc.values())
    rs = []
    for d in days:
        if tnc - nc[d] > 0:
            rs.append(
                int(
                    round_half_up(
                        (tpv - pv[d]) * 100.0 / (tnc - nc[d]), 0
                    )
                )
            )
    dd = len(rs)
    sse = (sum(x * x for x in rs) - sum(rs) ** 2 / dd) / 1.0e12
    se = math.sqrt((dd - 1) / dd * sse)
    ratio = tpv / 10000.0 / tnc
    row = jackknife_ratio_se(spark, SF_CORRECT).collect()[0]
    assert row["n_days"] == len(days) and row["d_valid"] == dd
    assert row["revenue_per_click"] == round_half_up(ratio, 4) + 0.0
    assert row["jackknife_se"] == round_half_up(se, 4) + 0.0
    assert row["ci_lo"] < row["revenue_per_click"] < row["ci_hi"]
    assert row["ci_lo"] == round_half_up(ratio - 1.96 * se, 4) + 0.0
    assert row["ci_hi"] == round_half_up(ratio + 1.96 * se, 4) + 0.0


def test_star_components_equal_min_label_propagation(spark):
    """The alternating large/small-star algorithm must produce exactly
    the label-propagation fixpoint (component-min labels) on the real
    MinHash dup graph — the guard that lets the two implementations be
    selected per graph shape without oracle changes."""
    from bigdata_group4_app_spark.operators.dedup import (
        _minhash_pairs_from,
        _propagate_min_labels,
        _shingles,
        _star_components,
    )
    from pyspark.sql import functions as F

    pairs = (
        _minhash_pairs_from(_shingles(spark, SF_CORRECT))
        .select("doc_id_1", "doc_id_2")
        .localCheckpoint()
    )
    edges = pairs.union(
        pairs.select(
            F.col("doc_id_2").alias("doc_id_1"),
            F.col("doc_id_1").alias("doc_id_2"),
        )
    )
    a = sorted(map(tuple, _propagate_min_labels(edges).collect()))
    b = sorted(map(tuple, _star_components(edges).collect()))
    assert a == b and len(a) > 0


def test_item_item_cosine_matches_bruteforce(spark):
    """Replay the recommender neighbors in plain Python from the raw
    (order, part) pairs: same basket cap, same cosine, same top-20
    items / top-5 neighbor selection with the same tie-breaks."""
    import math
    from collections import defaultdict

    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.operators.relational import (
        BASKET_MAX_PARTS,
        ITEM_SIM_K,
        ITEM_SIM_TOP_ITEMS,
        item_item_cosine,
    )
    from bigdata_group4_app_spark.sources.registry import load_table
    from tests.conftest import SF_CORRECT

    li = (
        load_table(spark, SF_CORRECT, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    item_n, pair_n = defaultdict(int), defaultdict(int)
    for parts in baskets.values():
        if len(parts) > BASKET_MAX_PARTS:
            continue
        sp = sorted(parts)
        for p in sp:
            item_n[p] += 1
        for i, a in enumerate(sp):
            for b in sp[i + 1 :]:
                pair_n[(a, b)] += 1
    top = sorted(item_n, key=lambda p: (-item_n[p], p))[:ITEM_SIM_TOP_ITEMS]
    expected = []
    for it in sorted(top):
        nbrs = []
        for (a, b), c in pair_n.items():
            if a == it:
                nbrs.append((b, c))
            elif b == it:
                nbrs.append((a, c))
        scored = sorted(
            (
                (-c / math.sqrt(item_n[it] * item_n[nb]), nb, c)
                for nb, c in nbrs
            )
        )[:ITEM_SIM_K]
        for rk, (negcos, nb, c) in enumerate(scored, 1):
            expected.append(
                (it, item_n[it], nb, c, round_half_up(-negcos, 4), rk)
            )
    got = [tuple(r) for r in item_item_cosine(spark, SF_CORRECT).collect()]
    assert sorted(got) == sorted(expected) and len(got) > 0


def test_sampled_groupby_error_audit_estimator(spark):
    """The HT estimate, SE, and coverage flag must replay exactly from
    the deterministic md5 coin; CI coverage across nations should be
    near-nominal (>= 60% with only 25 strata)."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.operators.sketches import (
        AQP_MOD,
        sampled_groupby_error_audit,
    )
    from bigdata_group4_app_spark.sources.registry import load_table
    from tests.conftest import SF_CORRECT

    rows = sampled_groupby_error_audit(spark, SF_CORRECT).collect()
    assert len(rows) == 25
    cov = sum(r.ci_covers for r in rows)
    assert cov >= 15  # 95% nominal; allow slack on 25 strata
    # exact replay of one nation
    target = rows[0].n_name
    o = (
        load_table(spark, SF_CORRECT, "orders")
        .join(
            load_table(spark, SF_CORRECT, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            load_table(spark, SF_CORRECT, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.col("n_name") == target)
        .select("o_orderkey", "o_totalprice")
        .collect()
    )
    exact_i2 = samp_i2 = samp_sq = n_samp = 0
    for r in o:
        pen = int(round_half_up(r.o_totalprice * 100.0, 0))
        exact_i2 += pen
        coin = int(hashlib.md5(str(r.o_orderkey).encode()).hexdigest()[:8], 16)
        if coin % AQP_MOD == 0:
            n_samp += 1
            samp_i2 += pen
            samp_sq += pen * pen
    row = rows[0]
    assert row.n_orders == len(o) and row.n_sampled == n_samp
    assert row.exact_revenue == round_half_up(exact_i2 / 100.0, 4)
    est = samp_i2 * AQP_MOD / 100.0
    se = math.sqrt(AQP_MOD * (AQP_MOD - 1) * samp_sq / 10000.0)
    assert row.est_revenue == round_half_up(est, 4)
    assert row.est_se == round_half_up(se, 4)


def test_gbdt_descends_and_beats_base_rate(spark):
    """Newton-boosted stumps on the linear-threshold churn label must
    log a strictly decreasing train log-loss from the ln(2) cold start
    and end decisively above the 0.627 base-rate accuracy; each round
    must pick one of the three true label drivers."""
    from bigdata_group4_app_spark.ml.gbdt import (
        GBDT_ROUNDS,
        gbdt_churn_stumps,
    )
    from tests.conftest import SF_CORRECT

    rows = gbdt_churn_stumps(spark, SF_CORRECT).collect()
    assert [r.round for r in rows] == list(range(1, GBDT_ROUNDS + 1))
    assert rows[0].log_loss == 0.693147  # ln(2): zero margin cold start
    lls = [r.log_loss for r in rows]
    assert all(a > b for a, b in zip(lls, lls[1:]))
    assert rows[-1].accuracy >= 0.8
    assert {r.split_feature for r in rows} <= {"pd", "sc", "tn"}
    # leaf weights stay shrinkage-bounded (|w| <= eta * |g|/h scale)
    assert all(abs(r.w_left) < 1.0 and abs(r.w_right) < 1.0 for r in rows)


def test_mi_ranking_finds_label_drivers(spark):
    """The churn label is a threshold on Support Calls / Payment Delay
    / Tenure (plans/churn.py) — the MI screen must rank exactly those
    three first, and every MI must be non-negative up to int-rounding
    noise."""
    from bigdata_group4_app_spark.ml.features import (
        MI_FEATS,
        mi_feature_ranking,
    )
    from tests.conftest import SF_CORRECT

    rows = mi_feature_ranking(spark, SF_CORRECT).collect()
    assert len(rows) == len(MI_FEATS)
    top3 = {r.feat for r in rows[:3]}
    assert top3 == {"support_calls_band", "payment_delay_band", "tenure_year"}
    assert all(r.mi_nats >= -1e-6 for r in rows)
    assert [r.mi_rank for r in rows] == list(range(1, len(MI_FEATS) + 1))


def test_cox_newton_converges_positive_hazard(spark):
    """Support Calls drives churn up (plans/churn.py label), so the Cox
    fit must converge to a POSITIVE beta with the textbook Newton
    signature: score -> 0, log-partial-likelihood monotone
    nondecreasing, beta fixed at 6dp by round 4."""
    from bigdata_group4_app_spark.operators.stats import cox_churn_hazard
    from tests.conftest import SF_CORRECT

    rows = cox_churn_hazard(spark, SF_CORRECT).collect()
    assert len(rows) == 4
    assert rows[-1].beta > 0 and rows[-1].hazard_ratio > 1.0
    assert rows[-1].beta == rows[-2].beta  # 6dp fixpoint reached
    lls = [r.log_lik for r in rows]
    assert all(b >= a for a, b in zip(lls, lls[1:]))
    assert abs(rows[-1].score_u) < 0.1 < abs(rows[0].score_u)
    assert all(r.fisher_info > 0 for r in rows)


def test_k_anonymity_audit_replays_from_rows(spark):
    """Exact Python replay of the QI equivalence classes."""
    from collections import defaultdict

    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.operators.quality import (
        KANON_K,
        k_anonymity_audit,
    )
    from bigdata_group4_app_spark.plans.churn import churn_customers
    from tests.conftest import SF_CORRECT

    cc = churn_customers(spark, SF_CORRECT).collect()
    cls = defaultdict(list)
    for r in cc:
        cls[(r["Age"] // 5, r["Gender"], r["Contract Length"])].append(
            r["Churn"]
        )
    sizes = {k: len(v) for k, v in cls.items()}
    row = k_anonymity_audit(spark, SF_CORRECT).collect()[0]
    assert row.n_rows == len(cc) and row.n_classes == len(cls)
    assert row.min_class_size == min(sizes.values())
    viol = [k for k, s in sizes.items() if s < KANON_K]
    assert row.k5_violating_classes == len(viol)
    risk = sum(sizes[k] for k in viol)
    assert row.rows_at_risk == risk
    assert row.rows_at_risk_pct == round_half_up(risk / len(cc) * 100.0, 4)
    homo = sum(1 for v in cls.values() if min(v) == max(v))
    assert row.label_homogeneous_classes == homo
    assert row.avg_class_size == round_half_up(len(cc) / len(cls), 4)


def test_hits_matches_numpy_power_iteration(spark):
    """Replay the integer fixed-point HITS in plain Python over the
    collected edge set — every half-step's normalize-to-1e8 grid must
    reproduce the engine's scores exactly."""
    from collections import defaultdict

    from bigdata_group4_app_spark.functions.rounding import round_half_up
    from bigdata_group4_app_spark.operators.graph import (
        HITS_ITERS,
        HITS_SCALE,
        _trade_edges,
        hits_hub_authority,
    )
    from tests.conftest import SF_CORRECT

    edges = {
        (r.src, r.dst)
        for r in _trade_edges(spark, SF_CORRECT).select("src", "dst").collect()
    }
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    h = {n: HITS_SCALE for n in nodes}
    a = {}
    for _ in range(HITS_ITERS):
        araw = defaultdict(int)
        for s, d in edges:
            araw[d] += h[s]
        amax = max(araw.values())
        a = {
            n: int(round_half_up(araw.get(n, 0) * float(HITS_SCALE) / amax, 0))
            for n in nodes
        }
        hraw = defaultdict(int)
        for s, d in edges:
            hraw[s] += a[d]
        hmax = max(hraw.values())
        h = {
            n: int(round_half_up(hraw.get(n, 0) * float(HITS_SCALE) / hmax, 0))
            for n in nodes
        }
    got = hits_hub_authority(spark, SF_CORRECT).collect()
    assert len(got) == len(nodes)
    for r in got:
        assert r.hub_score == h[r.node] / float(HITS_SCALE)
        assert r.authority_score == a[r.node] / float(HITS_SCALE)
    # ranks are permutations and the max-normalized tops score 1.0
    assert sorted(r.hub_rank for r in got) == list(range(1, len(nodes) + 1))
    assert max(r.hub_score for r in got) == 1.0
    assert max(r.authority_score for r in got) == 1.0


def test_permutation_test_pvalue_is_calibrated(spark):
    """The observed split IS one of the md5-exchangeable user splits
    (user_id %% 2 carries no real treatment), so the permutation
    p-value must be non-extreme — and the add-one rule bounds it away
    from 0/1."""
    from bigdata_group4_app_spark.operators.stats import (
        PERM_B,
        permutation_test_value,
    )
    from tests.conftest import SF_CORRECT

    row = permutation_test_value(spark, SF_CORRECT).collect()[0]
    assert row.b_perms == PERM_B
    assert 1 / (PERM_B + 1) <= row.p_value <= 1.0
    # no treatment exists: a null split should not sit in the far tail
    assert row.p_value > 0.02
    assert 0 <= row.n_extreme <= PERM_B


def test_perplexity_filter_partitions_the_lm_corpus(spark):
    """Quartile split: head=25%, middle=50%, tail=25% of the LM-scored
    docs; buckets are ordered (max(head) <= min(middle) boundary up to
    threshold ties), tail is the only dropped bucket, and the doc
    counts reconcile with the LM relation."""
    from bigdata_group4_app_spark.operators.text import (
        ngram_lm_perplexity,
        perplexity_quality_filter,
    )
    from tests.conftest import SF_CORRECT

    n_lm = ngram_lm_perplexity(spark, SF_CORRECT).count()
    rows = {r.bucket: r for r in perplexity_quality_filter(spark, SF_CORRECT).collect()}
    assert set(rows) == {"head", "middle", "tail"}
    assert sum(r.n_docs for r in rows.values()) == n_lm
    assert rows["head"].kept == 1 and rows["middle"].kept == 1
    assert rows["tail"].kept == 0
    assert rows["head"].max_ppl <= rows["middle"].min_ppl
    assert rows["middle"].max_ppl <= rows["tail"].min_ppl
    assert rows["head"].mean_ppl < rows["middle"].mean_ppl < rows["tail"].mean_ppl
    # quartile shares (exact percentiles; ties can only shift a little)
    assert abs(rows["head"].share_pct - 25.0) < 5.0
    assert abs(rows["middle"].share_pct - 50.0) < 10.0


def test_pacf_matches_statsmodels_style_reference(spark):
    """Durbin-Levinson replay against an independent NumPy solve: PACF
    at lag k equals the last Yule-Walker coefficient from the Toeplitz
    system of the SAME 8dp autocorrelations (up to the 8dp per-level
    rounding the engines apply)."""
    import numpy as np

    from bigdata_group4_app_spark.operators.stats import (
        PACF_LAGS,
        pacf_daily_value,
    )
    from tests.conftest import SF_CORRECT

    rows = pacf_daily_value(spark, SF_CORRECT).collect()
    assert [r.lag for r in rows] == list(range(1, PACF_LAGS + 1))
    r = [1.0] + [row.acf for row in rows]
    for row in rows:
        k = row.lag
        R = np.array([[r[abs(i - j)] for j in range(k)] for i in range(k)])
        rhs = np.array(r[1 : k + 1])
        phi = np.linalg.solve(R, rhs)[-1]
        assert abs(row.pacf - phi) < 5e-6, (k, row.pacf, phi)
    assert rows[0].pacf == rows[0].acf  # phi_11 = rho_1 identically
