"""Oracle-parity + semantics tests for text analysis, dedup, similarity."""

import pytest
from pyspark.sql import functions as F

from bigdata_group4_app_spark.operators import dedup, similarity, text

from .conftest import SF_CORRECT, SF_SMOKE, check_registered


@pytest.mark.parametrize("name", sorted(text.QUERIES))
def test_text_oracle_parity(spark, name):
    check_registered(spark, name, SF_CORRECT)


@pytest.mark.parametrize("name", sorted(dedup.QUERIES))
def test_dedup_oracle_parity(spark, name):
    check_registered(spark, name, SF_CORRECT)


@pytest.mark.parametrize("name", sorted(similarity.ORACLE))
def test_similarity_oracle_parity(spark, name):
    check_registered(spark, name, SF_CORRECT)


def test_minhash_finds_injected_near_dups(spark):
    """The driver's documents table contains injected near-duplicate pairs
    (jaccard ~0.99); MinHash-LSH must surface them."""
    rows = dedup.minhash_lsh_pairs(spark, SF_CORRECT).collect()
    assert len(rows) >= 5
    assert all(r["jaccard"] >= dedup.JACCARD_MINHASH_THRESHOLD for r in rows)


def test_minhash_agrees_with_exact_jaccard(spark):
    """LSH candidates + verification must reproduce the exact-baseline
    pairs at the stricter threshold (recall check)."""
    lsh = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in dedup.minhash_lsh_pairs(spark, SF_CORRECT).collect()
    }
    exact = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in dedup.ngram_jaccard_pairs(spark, SF_CORRECT).collect()
        if r["jaccard"] >= dedup.JACCARD_MINHASH_THRESHOLD
    }
    assert lsh == exact


def test_knn_returns_k_per_query(spark):
    df = similarity.knn_brute_force(spark, SF_CORRECT)
    counts = df.groupBy("query_id").count().collect()
    assert len(counts) == similarity.N_QUERY_VECTORS
    assert all(r["count"] == similarity.TOP_K for r in counts)


def test_lsh_knn_subset_of_brute_force_candidates(spark):
    """Every LSH-ANN result is a true neighbor of its query (same bucket ⇒
    was in the brute-force candidate set); ranks are 1..k contiguous."""
    rows = similarity.knn_lsh_bucketed(spark, SF_CORRECT).collect()
    for qid in {r["query_id"] for r in rows}:
        ranks = sorted(r["rank"] for r in rows if r["query_id"] == qid)
        assert ranks == list(range(1, len(ranks) + 1))


def test_simhash_identical_docs_same_signature(spark):
    """Docs with identical token sets must collide in SimHash."""
    sig = dedup.simhash_signatures(spark, SF_CORRECT)
    assert sig.count() == sig.select("doc_id").distinct().count()


def test_ivf_recall_beats_random_probing(spark):
    """IVF searches IVF_NPROBE/IVF_K = 1/4 of the corpus; random probing
    would land ~25% of the exact top-k. The quantizer must do meaningfully
    better (uniform synthetic embeddings cap attainable recall ~0.5)."""
    from bigdata_group4_app_spark.operators.similarity import (
        IVF_TOP_K,
        knn_brute_force,
        knn_ivf,
    )

    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_ivf(spark, SF_CORRECT).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_brute_force(spark, SF_CORRECT).collect()
        if r["rank"] <= IVF_TOP_K
    }
    assert len(ivf & exact) / len(exact) >= 0.35


def test_corpus_clean_summary_consistent_with_doc_quality(spark):
    """The funnel's INLINE quality formula must stay in sync with the
    doc_quality operator: n_clean == canonical docs whose doc_quality
    score passes the 0.5 gate."""
    from bigdata_group4_app_spark.operators.dedup import (
        corpus_clean_summary,
        dedup_keep_canonical,
    )
    from bigdata_group4_app_spark.operators.text import doc_quality

    summary = corpus_clean_summary(spark, SF_CORRECT).collect()[0]
    quality = {
        r["doc_id"]: r["quality"]
        for r in doc_quality(spark, SF_CORRECT).collect()
    }
    canonical = {
        r["canonical_doc_id"]
        for r in dedup_keep_canonical(spark, SF_CORRECT).collect()
    }
    want_clean = sum(1 for d in canonical if quality[d] >= 0.5)
    assert summary["n_canonical"] == len(canonical)
    assert summary["n_clean"] == want_clean


def test_multiprobe_lsh_recall_dominates_single_probe(spark):
    """Probing the 8 Hamming-1 buckets must recover at least as many of
    the exact top-k as the single-bucket probe (candidate superset)."""
    from bigdata_group4_app_spark.operators.similarity import (
        knn_brute_force,
        knn_lsh_bucketed,
        knn_lsh_multiprobe,
    )

    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_brute_force(spark, SF_CORRECT).collect()
    }
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_lsh_bucketed(spark, SF_CORRECT).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_lsh_multiprobe(spark, SF_CORRECT).collect()
    }
    assert len(multi & bf) >= len(single & bf)
    assert len(multi & bf) > 0


def test_prefix_filter_equals_naive_jaccard(spark):
    """PPJoin prefix filtering is an OPTIMIZATION, not a semantics change:
    its survivors must equal the naive all-shingles self-join exactly, at
    two scale factors (the prefix pigeonhole is what's being proven)."""
    for sf in (SF_SMOKE, SF_CORRECT):
        naive = {
            (r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(spark, sf).collect()
        }
        pruned = {
            (r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
            for r in dedup.jaccard_prefix_filter_pairs(spark, sf).collect()
        }
        assert pruned == naive
        assert naive  # non-degenerate: the corpus really has near-dups


def test_levenshtein_pairs_include_exact_dups(spark):
    """Byte-identical documents (the exact-dedup survivors' duplicates)
    must appear as distance-0 pairs, and every reported distance must
    respect the declared bound and the length-difference invariant."""
    rows = dedup.levenshtein_dup_pairs(spark, SF_CORRECT).collect()
    assert rows
    assert any(r["edit_distance"] == 0 for r in rows)
    assert all(0 <= r["edit_distance"] <= dedup.LEV_MAX_DIST for r in rows)
    docs = {
        r["doc_id"]: r["text"]
        for r in dedup.load_table(spark, SF_CORRECT, "documents").collect()
    }
    for r in rows:
        l1 = len(docs[r["doc_id_1"]].strip())
        l2 = len(docs[r["doc_id_2"]].strip())
        assert abs(l1 - l2) <= dedup.LEV_MAX_DIST


def test_embedding_covariance_matches_numpy_and_supports_pca(spark):
    """The distributed sufficient-statistics covariance must equal
    numpy.cov on the collected vectors, and the driver-side
    eigendecomposition it exists to feed must be well-posed (PSD matrix,
    positive total variance)."""
    import numpy as np

    rows = similarity.embedding_covariance(spark, SF_CORRECT).collect()
    d = 64
    cov = np.zeros((d, d))
    for r in rows:
        cov[r["dim_i"], r["dim_j"]] = r["cov"]
        cov[r["dim_j"], r["dim_i"]] = r["cov"]
    vecs = np.array(
        [
            r["embedding"]
            for r in similarity.load_table(
                spark, SF_CORRECT, "embeddings"
            ).collect()
        ],
        dtype=np.float64,
    )
    want = np.cov(vecs, rowvar=False)
    assert np.abs(cov - want).max() < 1e-4
    # the PCA step this pass feeds: eigh on the driver-sized d×d matrix
    eig = np.linalg.eigvalsh(cov)
    assert eig.min() > -1e-8  # PSD up to rounding
    assert eig.sum() > 0


def test_vocab_growth_curve_is_heapsian(spark):
    """The trigram curve must actually curve: vocabulary strictly grows
    decile over decile while the NEW-vocabulary share falls from 1.0 (the
    saturation Heaps' law predicts; a flat unigram vocabulary was the
    designed-around failure mode)."""
    rows = text.vocab_growth_curve(spark, SF_CORRECT).collect()
    assert len(rows) == text.VOCAB_GROWTH_DECILES
    sizes = [r["vocab_size"] for r in rows]
    assert sizes == sorted(sizes) and len(set(sizes)) == len(sizes)
    assert rows[0]["new_share"] == 1.0
    assert rows[-1]["new_share"] < 0.5
    # replay the totals: last vocab_size == all distinct trigrams
    docs = {
        r["doc_id"]: r["text"].strip().split()
        for r in text.load_table(spark, SF_CORRECT, "documents").collect()
    }
    tris = {
        " ".join(t[i : i + 3])
        for t in docs.values()
        for i in range(len(t) - 2)
    }
    assert sizes[-1] == len(tris)


def test_embedding_dup_pairs_never_touches_driver(spark, monkeypatch):
    """The chunked block-grid must plan AND execute without materializing
    the corpus on the driver: DataFrame.toPandas/collect raise for the
    whole operator lifecycle (count() is the action — it goes through
    the SQL collect path, not DataFrame.collect)."""
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):  # pragma: no cover - should never run
        raise AssertionError("driver materialization inside operator")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    df = dedup.embedding_dup_pairs(spark, SF_CORRECT)
    assert df.count() >= 1


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT])
def test_levenshtein_chunk_blocking_equals_banded_reference(spark, sf_dir):
    """The pigeonhole 9-gram second key must be lossless: the two-path
    operator returns exactly the pairs the banded-only reference finds."""
    ref_docs = dedup.load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.length(F.trim(F.col("text"))).alias("len"),
        F.regexp_replace(
            F.substring(F.trim(F.col("text")), 1, dedup.LEV_PREFIX),
            r"[^\x00-\x7f]",
            "#",
        ).alias("probe"),
    )
    bucket = (F.col("len") / dedup._LEV_BUCKET).cast("long")
    banded = ref_docs.select(
        "doc_id", "lang", "len", "probe",
        F.explode(F.array(bucket, bucket + 1)).alias("bucket"),
    )
    ref = {
        (r["doc_id_1"], r["doc_id_2"], r["lang"], r["lev"])
        for r in banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.abs(F.col("a.len") - F.col("b.len")) <= dedup.LEV_MAX_DIST)
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            F.col("a.lang").alias("lang"),
            F.levenshtein(
                F.col("a.probe"), F.col("b.probe"), dedup.LEV_MAX_DIST
            ).alias("lev"),
        )
        .filter(F.col("lev") >= 0)
        .distinct()
        .collect()
    }
    got = {
        (r["doc_id_1"], r["doc_id_2"], r["lang"], r["edit_distance"])
        for r in dedup.levenshtein_dup_pairs(spark, sf_dir).collect()
    }
    assert got == ref


def test_snm_pairs_are_verified_subset_of_exact_jaccard(spark):
    """Blocked SNM trades recall, never precision: every emitted pair must
    appear in the exact shingle-join baseline with the SAME jaccard."""
    exact = {
        (r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(spark, SF_CORRECT).collect()
    }
    snm = dedup.sorted_neighborhood_pairs(spark, SF_CORRECT).collect()
    assert len(snm) >= 1
    for r in snm:
        assert exact[(r["doc_id_1"], r["doc_id_2"])] == r["jaccard"]


def test_bpe_merge_candidates_match_pandas_reference(spark):
    """Top merge-pair counts replayed with plain Python over the corpus."""
    from collections import Counter

    rows = text.bpe_merge_candidates(spark, SF_CORRECT).collect()
    assert len(rows) == text.BPE_MERGE_TOP_K
    counts = [r["merge_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    want = Counter()
    for doc in text.load_table(spark, SF_CORRECT, "documents").collect():
        for tok in doc["text"].strip().split():
            w = tok.lower()
            if len(w) >= 2 and w.isascii() and w.isalpha() and w == w.lower():
                for i in range(len(w) - 1):
                    want[w[i : i + 2]] += 1
    for r in rows:
        assert want[r["pair"]] == r["merge_count"], r["pair"]


def test_jl_projection_preserves_norms_in_expectation(spark):
    """E[‖Px‖²/k] = ‖x‖² for a Rademacher projection; with k=16 and ~50
    vectors per label the per-label mean ratio concentrates near 1."""
    rows = similarity.jl_projection_audit(spark, SF_CORRECT).collect()
    assert sum(r["n_vecs"] for r in rows) == 500
    for r in rows:
        assert 0.6 < r["avg_norm_ratio"] < 1.5, r
        assert r["min_norm_ratio"] <= r["avg_norm_ratio"] <= r["max_norm_ratio"]


def test_near_dup_survivor_is_best_quality_in_cluster(spark):
    """Replay the policy: the survivor must be a member of its cluster
    with the max quality (ties → lowest doc_id), and the drop accounting
    must cover every clustered doc."""
    members: dict = {}
    for r in dedup.near_dup_clusters(spark, SF_CORRECT).collect():
        members.setdefault(r["cluster_id"], []).append(r["doc_id"])
    quality = {
        r["doc_id"]: r["quality"]
        for r in text.doc_quality(spark, SF_CORRECT).collect()
    }
    rows = dedup.near_dup_survivors(spark, SF_CORRECT).collect()
    assert {r["cluster_id"] for r in rows} == set(members)
    assert sum(r["n_docs"] for r in rows) == sum(len(m) for m in members.values())
    for r in rows:
        m = members[r["cluster_id"]]
        assert r["n_docs"] == len(m) and r["n_dropped"] == len(m) - 1
        best = min(m, key=lambda d: (-quality[d], d))
        assert r["survivor_id"] == best
        assert r["survivor_quality"] == quality[best]


def test_kmeans_matches_numpy_lloyd_replay(spark):
    """The distributed 3-round Lloyd must reproduce a numpy replay that
    applies the SAME fixed-point rounding (6dp centroids, 8dp distances,
    argmin tie → lowest k), and its within-cluster SSE must not increase
    over the rounds (Lloyd's monotonicity)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    def r(x, n):
        # Spark/DuckDB round(): HALF_UP on the shortest decimal repr of
        # the double (BigDecimal.valueOf semantics) — numpy's half-even
        # binary rounding diverges exactly on the .5 boundaries this
        # fixed-point scheme creates, so replay with decimal.
        q = Decimal(1).scaleb(-n)
        return float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP))

    def rmat(a, n):
        return np.vectorize(lambda v: r(v, n))(a)

    emb = similarity.load_table(spark, SF_CORRECT, "embeddings").collect()
    X = np.array(
        [r_["embedding"] for r_ in sorted(emb, key=lambda r_: r_["vec_id"])],
        dtype=np.float64,
    )
    cents = rmat(X[: similarity.KMEANS_K], 6)
    sses = []
    for _ in range(similarity.KMEANS_ROUNDS):
        d = rmat(((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 8)
        assign = d.argmin(axis=1)  # argmin takes first (lowest k) on ties
        sses.append(d[np.arange(len(X)), assign].sum())
        cents = np.array(
            [
                rmat(X[assign == k].mean(axis=0), 6)
                for k in range(similarity.KMEANS_K)
                if (assign == k).any()
            ]
        )
    assert all(b <= a + 1e-6 for a, b in zip(sses, sses[1:])), sses
    rows = similarity.kmeans_fit_centroids(spark, SF_CORRECT).collect()
    got = {}
    for row in rows:
        got.setdefault(row["k"], {})[row["dim_idx"]] = row["centroid"]
    ks = sorted(got)
    assert len(ks) == len(cents)
    counts = {k: int((assign == k).sum()) for k in range(similarity.KMEANS_K)}
    for ki, k in enumerate(ks):
        want = rmat(cents[ki], 4)
        have = np.array([got[k][d] for d in range(X.shape[1])])
        assert np.abs(want - have).max() < 1e-9, k
    for row in rows:
        assert row["n_vecs"] == counts[row["k"]]


def test_jl_projected_knn_recall_beats_random_pool(spark):
    """The projected-space candidate pool must carry real signal: recall
    of the exact top-10 is ≥3× what a random 50-of-499 pool would give
    (~0.1). Random embeddings are the hard case for JL at k=16 (true
    cosine gaps are smaller than the ±2/√k distortion), so the floor is
    deliberately modest; clustered real-world embeddings do far better."""
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_brute_force(spark, SF_CORRECT).collect()
    }
    jl = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_jl_projected(spark, SF_CORRECT).collect()
    }
    recall = len(bf & jl) / len(bf)
    assert recall >= 0.3, recall
    # every emitted cosine must equal the brute-force value for that pair
    cos = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.knn_brute_force(spark, SF_CORRECT).collect()
    }
    for r in similarity.knn_jl_projected(spark, SF_CORRECT).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in cos:
            assert cos[key] == r["cosine"], key


def test_embedding_dup_pairs_reads_directory_corpus(spark, tmp_path):
    """The executor-side corpus re-scan must handle a Spark-written
    DIRECTORY dataset (part files), not just a single parquet file —
    the layout scale_probe replicas and any real store produce."""
    src = similarity.load_table(spark, SF_CORRECT, "embeddings")
    d = tmp_path / "dircorpus"
    d.mkdir()
    src.repartition(3).write.mode("overwrite").parquet(
        str(d / "embeddings.parquet")
    )
    got = {
        (r["vec_id_1"], r["vec_id_2"], r["cosine"])
        for r in dedup.embedding_dup_pairs(spark, str(d)).collect()
    }
    want = {
        (r["vec_id_1"], r["vec_id_2"], r["cosine"])
        for r in dedup.embedding_dup_pairs(spark, SF_CORRECT).collect()
    }
    assert got == want and len(got) > 0


def test_pipeline_funnel_consistent_with_stage_operators(spark):
    """Replay corpus_dedup_pipeline's funnel from the individually
    oracle-checked stage operators: canonical set, cluster labels, and
    doc_quality must reproduce every stage count."""
    canon = {
        r["canonical_doc_id"]
        for r in dedup.dedup_keep_canonical(spark, SF_CORRECT).collect()
    }
    members: dict = {}
    for r in dedup.near_dup_clusters(spark, SF_CORRECT).collect():
        members.setdefault(r["cluster_id"], []).append(r["doc_id"])
    quality = {
        r["doc_id"]: r["quality"]
        for r in text.doc_quality(spark, SF_CORRECT).collect()
    }
    toks = {
        r["doc_id"]: len(r["text"].strip().split())
        for r in text.load_table(spark, SF_CORRECT, "documents").collect()
    }
    survivors = set(canon)
    dropped = 0
    for m in members.values():
        kept_members = sorted(
            (d for d in m if d in canon), key=lambda d: (-quality[d], d)
        )
        for loser in kept_members[1:]:
            survivors.discard(loser)
            dropped += 1
    clean = {d for d in survivors if quality[d] >= 0.5}
    row = dedup.corpus_dedup_pipeline(spark, SF_CORRECT).collect()[0]
    assert row["n_docs"] == len(toks)
    assert row["n_canonical"] == len(canon)
    assert row["n_neardup_dropped"] == dropped
    assert row["n_final_clean"] == len(clean)
    assert row["clean_tokens"] == sum(toks[d] for d in clean)
