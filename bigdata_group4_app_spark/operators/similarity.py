"""Approximate-nearest-neighbor search over the ``embeddings`` table.

Two tiers (BASELINE.json north_star "similarity search"):

  * ``knn_brute_force`` — exact cosine top-k for a set of query vectors.
    The cross join is Q×N with Q small (broadcast the queries!), so at
    100 TB this is a map-only scan of the corpus with a per-partition
    top-k (window rank) — no quadratic blowup, one shuffle of Q×k rows.
  * ``knn_lsh_bucketed`` — the scale path: sign-LSH bucketing (axis-aligned
    hyperplanes on fixed dimensions) shrinks the candidate set to same-
    bucket vectors before ranking. Bucket keys are deterministic and
    engine-neutral, so the DuckDB oracle runs the identical algorithm.

Cosine is computed JVM-side in double precision via zip_with/aggregate
(see operators/dedup.py); both engines round to 4dp before ranking, and
ties break on vec_id, so ranking is deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import duck_md5_int, md5_int_sql
from ..functions.iterative import loop_width
from ..functions.vector_sql import duck_cosine_sql, duck_l2_sql
from ..sources.registry import load_table
from .dedup import COSINE_DUP_THRESHOLD, _cosine_expr, _l2_norm_expr

N_QUERY_VECTORS = 5  # vec_id < 5 are the query set
TOP_K = 10
LSH_DIMS = (1, 9, 17, 25, 33, 41, 49, 57)  # fixed hyperplane dims (1-based)
LSH_TOP_K = 5


def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
    )
    # broadcast the tiny query side: the corpus streams through map-side
    pairs = corpus.join(F.broadcast(queries)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cos = F.round(_cosine_expr("qe", "ne"), 4)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        pairs.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def _bucket_expr_spark() -> F.Column:
    parts = [
        f"CASE WHEN CAST(embedding[{d - 1}] AS DOUBLE) >= 0 THEN '1' ELSE '0' END"
        for d in LSH_DIMS
    ]
    return F.expr("concat(" + ", ".join(parts) + ")")


def knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _bucket_expr_spark()
    )
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qb"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("bucket").alias("nb"),
    )
    pairs = corpus.join(
        F.broadcast(queries), F.col("qb") == F.col("nb")
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    cos = F.round(_cosine_expr("qe", "ne"), 4)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        pairs.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= LSH_TOP_K)
        .orderBy("query_id", "rank")
    )


def knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH: each query searches its own bucket PLUS the
    8 buckets at Hamming distance 1 (one sign-bit flip) — the standard
    recall repair for LSH's hard bucket boundaries (a near neighbor that
    disagrees on ONE hyperplane is no longer lost). Candidate volume
    grows 9× per query but stays bucket-bounded; the probe set is a
    deterministic 9-element explode, so the DuckDB oracle runs the
    identical algorithm. Candidates can't duplicate: a corpus vector
    lives in exactly one bucket and the 9 probe buckets are distinct."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _bucket_expr_spark()
    )
    nbits = len(LSH_DIMS)
    flips = ", ".join(
        f"concat(substring(qb, 1, {i}),"
        f" CASE WHEN substring(qb, {i + 1}, 1) = '1' THEN '0' ELSE '1' END,"
        f" substring(qb, {i + 2}, {nbits}))"
        for i in range(nbits)
    )
    queries = (
        emb.filter(F.col("vec_id") < N_QUERY_VECTORS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("bucket").alias("qb"),
        )
        .select(
            "query_id",
            "qe",
            F.explode(F.expr(f"array(qb, {flips})")).alias("probe"),
        )
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("bucket").alias("nb"),
    )
    pairs = corpus.join(
        F.broadcast(queries), F.col("probe") == F.col("nb")
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    cos = F.round(_cosine_expr("qe", "ne"), 4)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        pairs.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= LSH_TOP_K)
        .orderBy("query_id", "rank")
    )


IVF_K = 16  # coarse-quantizer cells
IVF_NPROBE = 4  # cells searched per query
IVF_TOP_K = 5
IVF_FIT_MOD = 3  # quantizer fits on the deterministic 1-in-IVF_FIT_MOD sample


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a Lloyd coarse quantizer partitions the corpus into
    IVF_K cells; each query searches only its IVF_NPROBE nearest cells,
    then exact-cosine-reranks the candidates (reference analogue: the
    similarity-search north star; app_test.py has no ANN surface).

    The quantizer fits on a DETERMINISTIC SAMPLE (vec_id % IVF_FIT_MOD
    == 0 — the FAISS recipe: a coarse quantizer needs balance, not
    convergence, and never needs the full corpus), run through the
    shared fixed-point distributed Lloyd loop ``_kmeans_assign`` (init =
    the first IVF_K sample vectors, KMEANS_ROUNDS fixed rounds,
    6dp centroids / 8dp distances at every boundary, argmin ties on
    cell id) — so unlike the earlier driver-side numpy fit, every cell
    assignment REPLAYS EXACTLY in the DuckDB oracle via unrolled-round
    CTEs and the query is hash-checked, not rows-only.

    Scale shape: the fit touches only the 1/IVF_FIT_MOD sample (at
    100 TB the modulus is the sampling knob — raise it until the fit
    set is a few hundred vectors per cell) and each round is one
    broadcast-argmin map pass + a (k × dim)-sized partial agg; the
    corpus assignment is ONE map-side pass against the broadcast k×d
    centroid row (in production it is precomputed and the table is
    PARTITIONED BY cell, so a probe prunes partitions at the scan);
    per query the candidate set shrinks ~IVF_K/IVF_NPROBE-fold before
    the exact rerank, whose window is the only candidate shuffle.
    ``tests/test_llm_pipeline.py`` pins recall vs ``knn_brute_force``.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    fit = emb.filter(F.col("vec_id") % IVF_FIT_MOD == 0).select("vec_id", "e")
    # init: the first IVF_K sample members
    _, cents, _ = _kmeans_assign(fit, IVF_K * IVF_FIT_MOD)
    final_struct = _centroid_row(cents)
    rank_expr = _kmeans_ranked_cells_expr()

    # corpus assignment + query probing both rank against the FINAL
    # (post-round-3) centroids — one broadcast row, map-side
    corpus = emb.join(F.broadcast(final_struct)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.expr(f"element_at({rank_expr}, 1).k").alias("cell"),
    )
    probes = (
        emb.filter(F.col("vec_id") < N_QUERY_VECTORS)
        .join(F.broadcast(final_struct))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.explode(
                F.expr(f"slice({rank_expr}, 1, {IVF_NPROBE})")
            ).alias("dk"),
        )
        .select("query_id", "qe", F.col("dk.k").alias("cell"))
    )
    cand = corpus.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            F.round(_cosine_expr("qe", "ne"), 4).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_TOP_K)
        .orderBy("query_id", "rank")
    )


def _duck_bucket_expr(tbl: str) -> str:
    parts = [
        f"CASE WHEN CAST({tbl}.embedding[{d}] AS DOUBLE) >= 0 THEN '1' ELSE '0' END"
        for d in LSH_DIMS
    ]
    return "concat(" + ", ".join(parts) + ")"


# ordered-fold norms/cosines (functions/vector_sql.py): bit-identical to
# the Spark left fold, so a 4dp boundary can never flip between engines —
# the same hazard class the kmeans oracle fix closed (round-4 ADVICE)
_DUCK_NORM_DOT = f"""
norms AS (
  SELECT vec_id, {duck_l2_sql('embedding')} AS nrm
  FROM embeddings
),
cosines AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round({duck_cosine_sql('q.embedding', 'c.embedding', 'nq.nrm', 'nc.nrm')}, 4) AS cosine
  FROM embeddings q
  JOIN embeddings c ON q.vec_id < {N_QUERY_VECTORS} AND q.vec_id <> c.vec_id
  JOIN norms nq ON nq.vec_id = q.vec_id
  JOIN norms nc ON nc.vec_id = c.vec_id
)"""

EMB_DIM = 64


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d×d covariance matrix of the embedding space (upper triangle)
    — distributed PCA's entire data pass: PCA at any scale is ONE
    aggregation of sufficient statistics (n, Σx, Σxxᵀ) followed by an
    O(d³) driver-side eigendecomposition; the data never moves twice.

    The Σxxᵀ products are generated MAP-SIDE with nested array
    transforms (each row explodes into its d(d+1)/2 upper-triangle
    products — the basket_pairs lever, no self-join), and the hash
    aggregate partial-combines to d² rows per partition before the
    shuffle. Elements are CAST to DOUBLE before multiplying on BOTH
    engines so neither multiplies in float32; the only float rounding is
    the 6dp on the final centered values.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pair_expr = (
        f"flatten(transform(sequence(0, {EMB_DIM - 1}), i -> "
        f"transform(sequence(i, {EMB_DIM - 1}), j -> "
        "struct(i AS i, j AS j, "
        "CAST(embedding[i] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)"
        " AS v))))"
    )
    pp = (
        emb.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.i", "p.j", "p.v")
        .groupBy("i", "j")
        .agg(F.sum("v").alias("spp"))
    )
    sums = (
        emb.select(
            F.posexplode(F.col("embedding")).alias("i", "x")
        )
        .groupBy("i")
        .agg(F.sum(F.col("x").cast("double")).alias("sx"))
    )
    n_rel = emb.agg(F.count(F.lit(1)).alias("n"))
    cov = (
        pp.join(
            F.broadcast(sums.select(F.col("i").alias("si_i"),
                                    F.col("sx").alias("si"))),
            F.col("i") == F.col("si_i"),
        )
        .join(
            F.broadcast(sums.select(F.col("i").alias("sj_i"),
                                    F.col("sx").alias("sj"))),
            F.col("j") == F.col("sj_i"),
        )
        .crossJoin(F.broadcast(n_rel))
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            # + 0.0 collapses IEEE negative zero: round() yields -0.0 for
            # tiny negatives on one engine and 0.0 on the other — equal
            # under ==, DIFFERENT under the driver's repr-based hash
            (
                F.round(
                    (F.col("spp") - F.col("si") * F.col("sj") / F.col("n"))
                    / (F.col("n") - 1),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )
    return cov.orderBy("dim_i", "dim_j")


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector hygiene pass: L2 norm per embedding plus a zero-vector flag.
    Pipelines run this before any cosine math — a zero norm divides to
    NaN downstream. Pure higher-order-function expressions, map-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = _l2_norm_expr("embedding")
    return emb.select(
        "vec_id",
        F.round(nrm, 4).alias("l2_norm"),
        (nrm == 0.0).cast("int").alias("is_zero"),
        F.size("embedding").alias("dim"),
    ).orderBy("vec_id")


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors, long-form (label, dim_idx, centroid):
    the class-prototype computation behind IVF cell seeding, label
    drift monitoring, and nearest-centroid classification. posexplode →
    (label, dim) hash agg; partial aggregation does the heavy lifting
    map-side, and the result is labels × dims rows no matter the corpus
    size."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim_idx", "v"
            ),
        )
        .groupBy("label", "dim_idx")
        # + 0.0: near-zero centroid means can round to -0.0 on one
        # engine only (CLAUDE.md negative-zero hash hazard)
        .agg((F.round(F.avg("v"), 4) + F.lit(0.0)).alias("centroid"))
        .orderBy("label", "dim_idx")
    )


def embedding_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization audit: per vector, the max-abs scale and the
    reconstruction MSE of symmetric int8 quantization
    (q = round(x/s·127), x̂ = q·s/127) — the compression diagnostic run
    before shipping embeddings to a vector index at 4× smaller memory.

    Map-only higher-order expressions: one fold finds the scale, one
    fold accumulates squared reconstruction error — no shuffle at all
    except the presentation sort. Cross-engine float discipline: both
    folds run left-to-right over the same dims with the same expression
    tree (the squared term is written as d·d, not pow(d,2), so neither
    engine can take a libm shortcut), giving bit-identical doubles; the
    only rounding is presentational."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("ed"),
    )
    s_expr = (
        "aggregate(ed, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))"
    )
    recon = "(x - round(x / s * 127) * s / 127)"
    mse_expr = (
        "IF(s = CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), "
        f"round(aggregate(ed, CAST(0 AS DOUBLE), (a, x) -> a + {recon} * "
        f"{recon}) / size(ed), 8))"
    )
    return (
        emb.withColumn("s", F.expr(s_expr))
        .select(
            "vec_id",
            "label",
            F.round("s", 4).alias("scale"),
            F.expr(mse_expr).alias("mse"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# distributed Lloyd k-means (fixed-round, oracle-checked)
# ---------------------------------------------------------------------------

KMEANS_K = 4
KMEANS_ROUNDS = 3


def _kmeans_ranked_cells_expr() -> str:
    """All k cells ranked by 8dp-rounded squared L2 distance of the
    row's vector ``e`` to each centroid in the 1-row collected ``cs``
    array — struct sort on (d, k) is exactly the oracle's
    ``ORDER BY d, k`` ranking, so element 1 IS the Lloyd assignment and
    a prefix of length p is the p-probe expansion. Shared by the Lloyd
    loop and semantic dedup so rankings agree with the oracle's ``d{r}``
    CTEs bit-for-bit. Pure map-side: no shuffle per assignment."""
    return (
        "array_sort(transform(cs, c -> struct("
        "round(aggregate(zip_with(e, c.ce, (x, cc) -> (x - cc) * (x - cc)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v), 8) AS d, c.k AS k)))"
    )


def _centroid_row(cents: DataFrame) -> DataFrame:
    """The 1-row table ``cs`` of ALL (k, ce) centroid arrays built from
    a (k, dim, c) centroid relation — what ``_kmeans_ranked_cells_expr``
    ranks against, so assignment is a pure map-side argmin against the
    broadcast row: no shuffle of vector assignments at any corpus
    size."""
    return (
        cents.groupBy("k")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("sc"))
        .select("k", F.expr("transform(sc, s -> s.c)").alias("ce"))
        .groupBy()
        .agg(F.collect_list(F.struct("k", "ce")).alias("cs"))
    )


def _embedding_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e): the whole corpus as the Lloyd loop's fit relation."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )


def _kmeans_assign(fit: DataFrame, init_bound: int = KMEANS_K):
    """The shared Lloyd loop over the (vec_id, e) relation ``fit``:
    KMEANS_ROUNDS fixed rounds, deterministic init (the ``fit`` rows
    with vec_id < ``init_bound``; cell ids keep their vec_id), 6dp
    centroid / 8dp distance rounding at every boundary so both engines
    compare identical numbers. ``init_bound`` defaults to the
    oracle-checked KMEANS_K over the full corpus; the scaled-k SemDeDup
    probe passes the production ``k ∝ N`` and ``knn_ivf`` its sampled
    fit's bound. Returns ``(assigned, cents, cent_struct)`` — the final
    (vec_id, k) assignment, the final (k, dim, c) centroid relation, and
    the ``_centroid_row`` the final assignment ranked against (so a
    consumer can re-rank to probe depth >1 consistently with
    ``assigned``, which is rank 1 of ``_kmeans_ranked_cells_expr``).
    ``kmeans_fit_centroids``, ``semantic_dedup_pairs`` and ``knn_ivf``
    all build on this one loop (the shared-helper rule: an
    audit/consumer pair must not drift apart)."""
    cents = (
        fit.filter(F.col("vec_id") < init_bound)
        .select(F.col("vec_id").alias("k"), F.posexplode("e").alias("dim", "x"))
        .select("k", "dim", F.round("x", 6).alias("c"))
    )
    rank_expr = _kmeans_ranked_cells_expr()
    with loop_width(fit.sparkSession, 8):
        assigned = cent_struct = None
        for _ in range(KMEANS_ROUNDS):
            cent_struct = _centroid_row(cents)
            # assigned is NOT checkpointed: its recompute is one broadcast
            # map pass, and the cents checkpoint below already truncates
            # the round's lineage — one materialization job per round
            # instead of two measured ~15% off the whole loop at sf0.1
            assigned = (
                fit.join(F.broadcast(cent_struct))
                .select(
                    "vec_id",
                    F.expr(f"element_at({rank_expr}, 1).k").alias("k"),
                )
            )
            # centroid update WITHOUT re-joining the exploded corpus on
            # vec_id (r13 optimization, guide §2.3/§2.4): the argmin is
            # computed map-side and the vector exploded IN THE NEXT
            # select, so the only shuffle per round is the partial-
            # aggregating (k, dim) agg — the per-round corpus-wide join
            # (a shuffle of N·d rows at scale) is gone. Two selects, not
            # one: a generator in the same projection would hoist the
            # argmin ABOVE the Generate and re-evaluate the k-way HOF
            # fold once per exploded dim instead of once per vector
            # (measured 7x slower). Same rows into the same avg →
            # identical centroids (oracle-verified).
            cents = (
                fit.join(F.broadcast(cent_struct))
                .select(
                    F.expr(f"element_at({rank_expr}, 1).k").alias("k"),
                    "e",
                )
                .select("k", F.posexplode("e").alias("dim", "x"))
                .groupBy("k", "dim")
                .agg(F.round(F.avg("x"), 6).alias("c"))
                .localCheckpoint()
            )
    return assigned, cents, cent_struct


def kmeans_fit_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully DISTRIBUTED Lloyd k-means over the embeddings — k=4, three
    fixed rounds, deterministic init (the first k vectors); ``knn_ivf``
    runs the same loop on its 1-in-IVF_FIT_MOD sample. Every step is a
    DataFrame op: assignment is a map-side fold against the BROADCAST
    k×d centroid table; the centroid update is posexplode →
    partial-aggregating hash agg on (k, dim) — at 100 TB the shuffle
    carries k·d partial sums per partition, never vectors.
    Per-round ``localCheckpoint`` truncates the growing loop lineage and
    the tiny centroid tail runs at narrow shuffle width (CLAUDE.md
    iterative rules).

    Cross-engine determinism (the DuckDB oracle unrolls the same three
    rounds): distances are rounded to 8dp BEFORE the argmin and
    centroids to 6dp at every round boundary — both engines then compare
    identical numbers, so assignments can't diverge on last-bit float
    noise; argmin ties break on cluster id. Clusters that empty out drop
    deterministically on both engines (standard Lloyd dropout)."""
    assigned, cents, _ = _kmeans_assign(_embedding_vectors(spark, sf_dir))
    sizes = assigned.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    return (
        cents.join(sizes, "k")
        .select(
            "k",
            "n_vecs",
            F.col("dim").alias("dim_idx"),
            # zero-centered dims can round to ±0.0 — normalize the sign
            # (CLAUDE.md negative-zero rule) on BOTH sides
            (F.round("c", 4) + F.lit(0.0)).alias("centroid"),
        )
        .orderBy("k", "dim_idx")
    )


def _duck_kmeans_prefix(long: str = "long", k_sql: str | None = None) -> str:
    # the distance is an ORDERED sequential fold over dims — the exact
    # twin of Spark's zip_with/aggregate left fold — so per-(vec, k)
    # distances are BIT-identical, not merely 8dp-close: an unordered
    # SUM over dims could straddle a rounding boundary and flip an
    # argmin (advisor finding, round 3). Centroid AVG stays unordered
    # on BOTH engines (Spark partial aggs are order-free too); the 6dp
    # round at each boundary is what both engines then agree on.
    # Shared by the kmeans oracle AND the semantic-dedup oracle — both
    # must replay the IDENTICAL Lloyd loop (`_kmeans_assign`'s twin);
    # the final assignment CTE is ``a{KMEANS_ROUNDS}``.
    fold = (
        "round(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(e.e, (x, i) -> (x - c.ce[i]) * (x - c.ce[i]))), "
        "(acc, v) -> acc + v), 8)"
    )
    rounds = []
    prev = "c0"
    for r in range(1, KMEANS_ROUNDS + 1):
        rounds.append(f"""
carr{r} AS (
  SELECT k, list(c ORDER BY dim) AS ce FROM {prev} GROUP BY k
),
d{r} AS (
  SELECT e.vec_id, c.k, {fold} AS d
  FROM e_arr e CROSS JOIN carr{r} c
),
a{r} AS (
  SELECT vec_id, k FROM (
    SELECT vec_id, k,
      row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
    FROM d{r}
  ) WHERE rn = 1
),
c{r} AS (
  SELECT a.k, l.dim, round(avg(l.x), 6) AS c
  FROM a{r} a JOIN {long} l ON l.vec_id = a.vec_id
  GROUP BY a.k, l.dim
)""")
        prev = f"c{r}"
    return f"""{long} AS (
  SELECT vec_id, t.i - 1 AS dim, CAST(embedding[t.i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN UNNEST(generate_series(1, {EMB_DIM})) t(i)
),
e_arr AS (
  SELECT vec_id, list(x ORDER BY dim) AS e FROM {long} GROUP BY vec_id
),
c0 AS (
  SELECT vec_id AS k, dim, round(x, 6) AS c FROM {long}
  WHERE vec_id < ({k_sql or KMEANS_K})
),{",".join(rounds)}"""


def _duck_kmeans_sql() -> str:
    last = KMEANS_ROUNDS
    return f"""
WITH {_duck_kmeans_prefix()},
sizes AS (SELECT k, count(*) AS n_vecs FROM a{last} GROUP BY k)
SELECT c.k, s.n_vecs, c.dim AS dim_idx, round(c.c, 4) + 0.0 AS centroid
FROM c{last} c JOIN sizes s ON s.k = c.k
ORDER BY c.k, dim_idx
"""


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random-projection audit
# ---------------------------------------------------------------------------

JL_K = 16  # projected dimensionality (d=64 -> k=16)


def _jl_sign_matrix() -> list[list[float]]:
    """Deterministic Rademacher (±1) projection matrix, k rows × d cols,
    derived from md5 parity of the (j, i) coordinate so BOTH engines see
    the exact same matrix: the rows are rendered as array literals into
    the Spark expression and the DuckDB oracle from this one function
    (no per-row hashing at execution time — the matrix is a compile-time
    constant, which at 100 TB matters: the scan stays map-only with zero
    hash calls per element)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"jl_{j}_{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1.0
            for i in range(EMB_DIM)
        ]
        for j in range(JL_K)
    ]


def _jl_lit(row: list[float]) -> str:
    """SQL array literal for one sign row (valid in Spark and DuckDB)."""
    return "[" + ", ".join("1.0" if v > 0 else "-1.0" for v in row) + "]"


def _jl_fold_spark(row: list[float], col: str = "embedding") -> str:
    """Spark SQL: one projected component — sequential zip_with/aggregate
    fold of the embedding against a literal sign row."""
    arr = ", ".join("1.0D" if v > 0 else "-1.0D" for v in row)
    return (
        f"aggregate(zip_with({col}, array({arr}), "
        "(x, s) -> CAST(x AS DOUBLE) * s), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _jl_fold_duck(row: list[float], col: str = "embedding") -> str:
    """DuckDB twin of :func:`_jl_fold_spark` — identical fold order."""
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform({col}, (x, i) -> CAST(x AS DOUBLE) * "
        f"(CAST({_jl_lit(row)} AS DOUBLE[]))[i])), (a, b) -> a + b)"
    )


def jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Norm-preservation audit of a k=16 Rademacher random projection
    (Johnson-Lindenstrauss; Achlioptas 2001 shows ±1 entries suffice).
    For each vector: project to k dims (p_j = Σ_i x_i·s_ji), compare
    ‖Px‖²/k against ‖x‖² — the ratio concentrates around 1 with variance
    ≈ 2/k. Per-label avg/min/max of the ratio is the audit a pipeline
    runs before swapping full-dimension ANN for projected ANN.

    Scale shape: the projection is a map-only pass (16 fused zip_with/
    aggregate folds per row, JVM-side, no shuffle); the audit agg is a
    partial+final hash agg on ~|labels| groups. At 100 TB nothing here
    materializes more than label-cardinality rows.

    Determinism: every p_j and ‖x‖² is a sequential left fold in double
    precision; the DuckDB oracle uses list_transform((x, i) -> ...) +
    list_reduce with the identical fold order, so per-row ratios are
    bit-identical and min/max pick the same rows on both engines.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    p_cols = [
        F.expr(_jl_fold_spark(row)).alias(f"p{j}")
        for j, row in enumerate(_jl_sign_matrix())
    ]
    n2 = F.expr(
        "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    per = emb.select("label", n2.alias("n2"), *p_cols).filter(F.col("n2") > 0)
    p2 = None
    for j in range(JL_K):
        term = F.col(f"p{j}") * F.col(f"p{j}")
        p2 = term if p2 is None else p2 + term
    ratio = (p2 / F.lit(float(JL_K))) / F.col("n2")
    return (
        per.select("label", ratio.alias("ratio"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("ratio"), 4).alias("avg_norm_ratio"),
            F.round(F.min("ratio"), 4).alias("min_norm_ratio"),
            F.round(F.max("ratio"), 4).alias("max_norm_ratio"),
        )
        .orderBy("label")
    )


def _duck_jl_sql() -> str:
    folds = [
        f"{_jl_fold_duck(row)} AS p{j}"
        for j, row in enumerate(_jl_sign_matrix())
    ]
    p2 = " + ".join(f"p{j} * p{j}" for j in range(JL_K))
    return f"""
WITH per AS (
  SELECT label,
    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      (a, b) -> a + b) AS n2,
    {", ".join(folds)}
  FROM embeddings
),
ratios AS (
  SELECT label, (({p2}) / CAST({JL_K} AS DOUBLE)) / n2 AS ratio
  FROM per WHERE n2 > 0
)
SELECT label, count(*) AS n_vecs,
  round(avg(ratio), 4) AS avg_norm_ratio,
  round(min(ratio), 4) AS min_norm_ratio,
  round(max(ratio), 4) AS max_norm_ratio
FROM ratios GROUP BY label
ORDER BY label
"""


KNN_JL_POOL = 50  # candidate pool per query from the projected space


def knn_jl_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The swap `jl_projection_audit` gates: ANN via the k=16 projected
    space. Candidates come from projected squared-Euclidean distance
    (top-{pool} per query, 4× fewer multiplies than full-dim cosine at
    d=64, and the win grows with d); the final top-k reranks candidates
    with EXACT full-dimension cosine. Classic two-stage retrieval —
    coarse in the cheap space, exact on the shortlist.

    Scale shape: projection is map-only literal-matrix folds (see the
    audit); candidate ranking is a per-query window over the broadcast-
    query × corpus stream, so the corpus never shuffles; the exact rerank
    touches only pool-size rows per query.

    Determinism: projected components are bit-identical sequential folds
    on both engines; projected distances are an ascending-j chain of 16
    squared-difference terms rounded to 6dp before ranking, ties on
    neighbor_id; the rerank reuses the 4dp cosine + id tie convention of
    ``knn_brute_force``."""
    emb = load_table(spark, sf_dir, "embeddings")
    # project the UNIT-normalized vector (projection is linear, so this
    # is p_j/‖x‖ — no second pass): Euclidean distance between projected
    # unit vectors is monotone in cosine, which is what the rerank
    # metric ranks, so the candidate pool aims at the right target
    norm = F.sqrt(
        F.expr(
            "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * "
            "CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    proj = emb.select(
        "vec_id",
        "embedding",
        norm.alias("nrm"),
        *[
            F.expr(_jl_fold_spark(row)).alias(f"p{j}")
            for j, row in enumerate(_jl_sign_matrix())
        ],
    ).filter(F.col("nrm") > 0)
    q = proj.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        *[
            (F.col(f"p{j}") / F.col("nrm")).alias(f"qp{j}")
            for j in range(JL_K)
        ],
    )
    c = proj.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        *[
            (F.col(f"p{j}") / F.col("nrm")).alias(f"np{j}")
            for j in range(JL_K)
        ],
    )
    pdist = None
    for j in range(JL_K):
        term = (F.col(f"qp{j}") - F.col(f"np{j}")) * (
            F.col(f"qp{j}") - F.col(f"np{j}")
        )
        pdist = term if pdist is None else pdist + term
    pairs = c.join(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    wc = Window.partitionBy("query_id").orderBy("pd", "neighbor_id")
    pool = (
        pairs.select(
            "query_id",
            "neighbor_id",
            "qe",
            "ne",
            F.round(pdist, 6).alias("pd"),
        )
        .withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= KNN_JL_POOL)
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        pool.select(
            "query_id",
            "neighbor_id",
            F.round(_cosine_expr("qe", "ne"), 4).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def _duck_knn_jl_sql() -> str:
    folds = ", ".join(
        f"{_jl_fold_duck(row)} AS p{j}"
        for j, row in enumerate(_jl_sign_matrix())
    )
    nrm = (
        "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(embedding, x -> CAST(x AS DOUBLE) * "
        "CAST(x AS DOUBLE))), (a, b) -> a + b))"
    )
    pd = " + ".join(
        f"(q.p{j} / q.nrm - c.p{j} / c.nrm) * (q.p{j} / q.nrm - c.p{j} / c.nrm)"
        for j in range(JL_K)
    )
    return f"""
WITH {_DUCK_NORM_DOT.lstrip()},
proj AS (
  SELECT * FROM (SELECT vec_id, {nrm} AS nrm, {folds} FROM embeddings)
  WHERE nrm > 0
),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    row_number() OVER (
      PARTITION BY q.vec_id
      ORDER BY round({pd}, 6), c.vec_id) AS crn
  FROM proj q JOIN proj c
    ON q.vec_id < {N_QUERY_VECTORS} AND c.vec_id <> q.vec_id
),
pool AS (
  SELECT query_id, neighbor_id FROM cand WHERE crn <= {KNN_JL_POOL}
),
ranked AS (
  SELECT co.query_id, co.neighbor_id, co.cosine,
    row_number() OVER (
      PARTITION BY co.query_id
      ORDER BY co.cosine DESC, co.neighbor_id) AS rank
  FROM cosines co
  JOIN pool p ON p.query_id = co.query_id
    AND p.neighbor_id = co.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


ORACLE: dict[str, str] = {
    "embedding_covariance": f"""
WITH dims AS (SELECT i FROM generate_series(1, {EMB_DIM}) t(i)),
pp AS (
  SELECT d1.i - 1 AS dim_i, d2.i - 1 AS dim_j,
    sum(CAST(embedding[d1.i] AS DOUBLE) * CAST(embedding[d2.i] AS DOUBLE))
      AS spp
  FROM embeddings, dims d1, dims d2
  WHERE d2.i >= d1.i
  GROUP BY 1, 2
),
sums AS (
  SELECT d.i - 1 AS dim, sum(CAST(embedding[d.i] AS DOUBLE)) AS sx
  FROM embeddings, dims d
  GROUP BY 1
),
nn AS (SELECT count(*) AS n FROM embeddings)
SELECT p.dim_i, p.dim_j,
  round((p.spp - s1.sx * s2.sx / nn.n) / (nn.n - 1), 6) + 0.0 AS cov
FROM pp p
JOIN sums s1 ON s1.dim = p.dim_i
JOIN sums s2 ON s2.dim = p.dim_j
CROSS JOIN nn
ORDER BY dim_i, dim_j
""",
    "embedding_quant_error": """
WITH e AS (
  SELECT vec_id, label,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
  FROM embeddings
),
sc AS (
  SELECT vec_id, label, ed,
    list_reduce(
      list_prepend(CAST(0 AS DOUBLE), list_transform(ed, x -> abs(x))),
      (a, b) -> CASE WHEN b > a THEN b ELSE a END) AS s
  FROM e
)
SELECT vec_id, label, round(s, 4) AS scale,
  CASE WHEN s = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
    ELSE round(list_reduce(
      list_prepend(CAST(0 AS DOUBLE),
        list_transform(ed, x ->
          (x - round(x / s * 127) * s / 127)
          * (x - round(x / s * 127) * s / 127))),
      (a, b) -> a + b) / len(ed), 8) END AS mse
FROM sc
ORDER BY vec_id
""",
    "embedding_centroids": """
SELECT label, CAST(t.i - 1 AS INT) AS dim_idx,
  round(avg(CAST(embedding[i] AS DOUBLE)), 4) + 0.0 AS centroid
FROM embeddings CROSS JOIN UNNEST(generate_series(1, 64)) t(i)
GROUP BY label, t.i
ORDER BY label, dim_idx
""",
    "embedding_norms": """
WITH n AS (
  SELECT vec_id,
    sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS nrm,
    count(*) AS dim
  FROM embeddings CROSS JOIN UNNEST(generate_series(1, 64)) t(i)
  GROUP BY vec_id
)
SELECT vec_id, round(nrm, 4) AS l2_norm,
  CAST(nrm = 0.0 AS INT) AS is_zero, CAST(dim AS INT) AS dim
FROM n
ORDER BY vec_id
""",
    "knn_brute_force": f"""
WITH {_DUCK_NORM_DOT.lstrip()},
ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cosines
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
""",
    "knn_lsh_bucketed": f"""
WITH {_DUCK_NORM_DOT.lstrip()},
buckets AS (
  SELECT vec_id, {_duck_bucket_expr('embeddings')} AS bucket FROM embeddings
),
bucketed AS (
  SELECT c.query_id, c.neighbor_id, c.cosine
  FROM cosines c
  JOIN buckets bq ON bq.vec_id = c.query_id
  JOIN buckets bn ON bn.vec_id = c.neighbor_id AND bn.bucket = bq.bucket
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM bucketed
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {LSH_TOP_K}
ORDER BY query_id, rank
""",
}

_FLIPS_SQL = ", ".join(
    f"concat(substring(bq.bucket, 1, {i}),"
    f" CASE WHEN substring(bq.bucket, {i + 1}, 1) = '1' THEN '0' ELSE '1' END,"
    f" substring(bq.bucket, {i + 2}, {len(LSH_DIMS)}))"
    for i in range(len(LSH_DIMS))
)

ORACLE["knn_lsh_multiprobe"] = f"""
WITH {_DUCK_NORM_DOT.lstrip()},
buckets AS (
  SELECT vec_id, {_duck_bucket_expr('embeddings')} AS bucket FROM embeddings
),
probes AS (
  SELECT bq.vec_id AS query_id, u.probe
  FROM buckets bq
  CROSS JOIN UNNEST([bq.bucket, {_FLIPS_SQL}]) u(probe)
  WHERE bq.vec_id < {N_QUERY_VECTORS}
),
bucketed AS (
  SELECT c.query_id, c.neighbor_id, c.cosine
  FROM cosines c
  JOIN probes p ON p.query_id = c.query_id
  JOIN buckets bn ON bn.vec_id = c.neighbor_id AND bn.bucket = p.probe
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM bucketed
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {LSH_TOP_K}
ORDER BY query_id, rank
"""

def _duck_ivf_sql() -> str:
    """Unrolled-CTE replay of ``knn_ivf``: the identical fixed-point
    Lloyd fit over the vec_id % IVF_FIT_MOD sample (the kmeans oracle's
    ordered-fold distance — bit-identical to Spark's zip_with/aggregate
    left fold), final-centroid corpus assignment, IVF_NPROBE probing,
    4dp ordered-fold cosine rerank with the (cosine DESC, id) tie."""
    fold = (
        "round(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(e.e, (x, i) -> (x - c.ce[i]) * (x - c.ce[i]))), "
        "(acc, v) -> acc + v), 8)"
    )
    rounds = []
    prev = "ivc0"
    for r in range(1, KMEANS_ROUNDS + 1):
        rounds.append(f"""
ivcarr{r} AS (
  SELECT k, list(c ORDER BY dim) AS ce FROM {prev} GROUP BY k
),
ivd{r} AS (
  SELECT e.vec_id, c.k, {fold} AS d
  FROM f_arr e CROSS JOIN ivcarr{r} c
),
iva{r} AS (
  SELECT vec_id, k FROM (
    SELECT vec_id, k,
      row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
    FROM ivd{r}
  ) WHERE rn = 1
),
ivc{r} AS (
  SELECT a.k, l.dim, round(avg(l.x), 6) AS c
  FROM iva{r} a JOIN flong l ON l.vec_id = a.vec_id
  GROUP BY a.k, l.dim
)""")
        prev = f"ivc{r}"
    last = KMEANS_ROUNDS
    return f"""
WITH elong AS (
  SELECT vec_id, t.i - 1 AS dim, CAST(embedding[t.i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN UNNEST(generate_series(1, {EMB_DIM})) t(i)
),
e_arr AS (
  SELECT vec_id, list(x ORDER BY dim) AS e FROM elong GROUP BY vec_id
),
flong AS (SELECT * FROM elong WHERE vec_id % {IVF_FIT_MOD} = 0),
f_arr AS (SELECT * FROM e_arr WHERE vec_id % {IVF_FIT_MOD} = 0),
ivc0 AS (
  SELECT vec_id AS k, dim, round(x, 6) AS c FROM flong
  WHERE vec_id < {IVF_K * IVF_FIT_MOD}
),{",".join(rounds)},
carrF AS MATERIALIZED (
  SELECT k, list(c ORDER BY dim) AS ce FROM ivc{last} GROUP BY k
),
-- ad feeds BOTH cells and probes: without MATERIALIZED DuckDB inlines
-- and re-evaluates the whole unrolled Lloyd fit per consumer (the
-- round-6 logreg-oracle lesson)
ad AS MATERIALIZED (
  SELECT e.vec_id, c.k, {fold} AS d
  FROM e_arr e CROSS JOIN carrF c
),
cells AS (
  SELECT vec_id, k AS cell FROM (
    SELECT vec_id, k,
      row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
    FROM ad
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, k AS cell FROM (
    SELECT vec_id, k,
      row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
    FROM ad WHERE vec_id < {N_QUERY_VECTORS}
  ) WHERE rn <= {IVF_NPROBE}
),
ivnorms AS (
  SELECT vec_id, {duck_l2_sql('embedding')} AS nrm FROM embeddings
),
ivcand AS (
  SELECT p.query_id, c.vec_id AS neighbor_id
  FROM probes p JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.query_id
),
ivrer AS (
  SELECT ca.query_id, ca.neighbor_id,
    round({duck_cosine_sql('q.embedding', 'c.embedding', 'nq.nrm', 'nc.nrm')},
          4) AS cosine
  FROM ivcand ca
  JOIN embeddings q ON q.vec_id = ca.query_id
  JOIN embeddings c ON c.vec_id = ca.neighbor_id
  JOIN ivnorms nq ON nq.vec_id = ca.query_id
  JOIN ivnorms nc ON nc.vec_id = ca.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank
  FROM ivrer
) WHERE rank <= {IVF_TOP_K}
ORDER BY query_id, rank
"""


ORACLE["jl_projection_audit"] = _duck_jl_sql()
ORACLE["knn_ivf"] = _duck_ivf_sql()
ORACLE["kmeans_fit_centroids"] = _duck_kmeans_sql()
ORACLE["knn_jl_projected"] = _duck_knn_jl_sql()

QUERIES = {
    "jl_projection_audit": jl_projection_audit,
    "kmeans_fit_centroids": kmeans_fit_centroids,
    "knn_jl_projected": knn_jl_projected,
    "embedding_covariance": embedding_covariance,
    "embedding_centroids": embedding_centroids,
    "embedding_norms": embedding_norms,
    "embedding_quant_error": embedding_quant_error,
    "knn_brute_force": knn_brute_force,
    "knn_lsh_bucketed": knn_lsh_bucketed,
    "knn_lsh_multiprobe": knn_lsh_multiprobe,
    "knn_ivf": knn_ivf,
}


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance — diversity-aware top-k selection
# ---------------------------------------------------------------------------

MMR_QUERY_ID = 0  # the query vector
MMR_CANDS = 12  # relevance-ranked candidate pool fed to the greedy stage
MMR_K = 5  # selections
MMR_LAMBDA = 0.7  # relevance weight
MMR_MU = 0.3  # diversity penalty — EXPLICIT literal: 1.0-0.7 is 0.30000000000000004


def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedy
    top-k where each pick maximizes ``λ·rel(c) − (1−λ)·max_{s∈S}
    sim(c, s)`` — the de-dup-aware retrieval selection a RAG/training-
    sampler pipeline runs so the k examples aren't five paraphrases of
    the same document.

    Two-stage shape (the only one that scales): stage 1 is the standard
    distributed relevance top-N (broadcast query × corpus stream, same
    plan as ``knn_brute_force``) cutting 500→12 candidates, and the
    candidate×candidate sims are one more broadcast-tiny distributed
    pass; stage 2 — the inherently-sequential greedy loop — then folds
    DRIVER-side over the collected pool, which is CANDIDATE-bounded
    (12 + 132 rows at ANY corpus size — the sufficient-statistics
    bounded-collect contract; a k-round DataFrame loop measured 4×
    slower in pure stage-scheduling overhead). Cross-engine: rel and pairwise sims round 4dp (the
    cosine convention) ENGINE-side before collection; each greedy
    round's score is the same IEEE multiply/subtract on those collected
    doubles, rounded 6dp half-up via Decimal (bit-equal to Spark/DuckDB
    ``round``, CLAUDE.md replay rule) BEFORE the argmax; ties break on
    candidate id. The DuckDB oracle unrolls the same k rounds as CTEs
    and reproduces every pick exactly (the kmeans fixed-point recipe).
    """
    from ..functions.rounding import round_half_up

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("embedding").alias("qe")
    )
    corpus = emb.filter(F.col("vec_id") != MMR_QUERY_ID).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cands = (
        corpus.join(F.broadcast(q))
        .select(
            "cid", "ce", F.round(_cosine_expr("qe", "ce"), 4).alias("rel")
        )
        .orderBy(F.desc("rel"), "cid")
        .limit(MMR_CANDS)
        .localCheckpoint()  # pin the pool: sims + collect consume it
    )
    right = cands.select(
        F.col("cid").alias("cid_b"), F.col("ce").alias("ce_b")
    )
    sim_rows = (
        cands.join(F.broadcast(right), F.col("cid") != F.col("cid_b"))
        .select(
            "cid",
            "cid_b",
            F.round(_cosine_expr("ce", "ce_b"), 4).alias("sim"),
        )
        .collect()
    )
    pool = {r["cid"]: r["rel"] for r in cands.select("cid", "rel").collect()}
    sim = {(r["cid"], r["cid_b"]): r["sim"] for r in sim_rows}

    def r6(x: float) -> float:
        return round_half_up(x, 6)

    first = min(pool, key=lambda c: (-pool[c], c))
    picks = [(1, first, pool[first], r6(MMR_LAMBDA * pool[first]))]
    selected = [first]
    for r in range(2, MMR_K + 1):
        best = min(
            (c for c in pool if c not in selected),
            key=lambda c: (
                -r6(
                    MMR_LAMBDA * pool[c]
                    - MMR_MU * max(sim[(c, s)] for s in selected)
                ),
                c,
            ),
        )
        picks.append(
            (
                r,
                best,
                pool[best],
                r6(
                    MMR_LAMBDA * pool[best]
                    - MMR_MU * max(sim[(best, s)] for s in selected)
                ),
            )
        )
        selected.append(best)
    return spark.createDataFrame(
        picks, schema="rank int, neighbor_id bigint, rel double, score double"
    ).orderBy("rank")


def _duck_mmr_sql() -> str:
    lam, mu = MMR_LAMBDA, MMR_MU
    rounds, sel_union = [], "SELECT cid FROM s1"
    for r in range(2, MMR_K + 1):
        rounds.append(f"""
s{r} AS (
  SELECT cid, rel, round({lam} * rel - {mu} * ms, 6) AS score
  FROM (
    SELECT p.cid, p.rel, max(sim.sim) AS ms
    FROM pool p
    JOIN sims sim ON sim.cid = p.cid
      AND sim.cid_b IN ({sel_union})
    WHERE p.cid NOT IN ({sel_union})
    GROUP BY p.cid, p.rel
  )
  ORDER BY score DESC, cid LIMIT 1
)""")
        sel_union += f" UNION ALL SELECT cid FROM s{r}"
    picks = "\nUNION ALL\n".join(
        f"SELECT {r} AS rank, cid AS neighbor_id, rel, score FROM s{r}"
        for r in range(1, MMR_K + 1)
    )
    # rels/sims are ordered list_reduce folds (functions/vector_sql.py)
    # mirroring Spark's _cosine_expr left fold — an unordered SUM over
    # dims could straddle a 4dp boundary and flip a pool-boundary or
    # greedy argmax pick (round-4 ADVICE, same class as the kmeans fix)
    return f"""
WITH norms AS (
  SELECT vec_id, {duck_l2_sql('embedding')} AS nrm
  FROM embeddings
),
rels AS (
  SELECT c.vec_id AS cid,
    round({duck_cosine_sql('q.embedding', 'c.embedding', 'nq.nrm', 'nc.nrm')}, 4) AS rel
  FROM embeddings q
  JOIN embeddings c ON q.vec_id = {MMR_QUERY_ID} AND c.vec_id <> {MMR_QUERY_ID}
  JOIN norms nq ON nq.vec_id = q.vec_id
  JOIN norms nc ON nc.vec_id = c.vec_id
),
pool AS (
  SELECT cid, rel FROM rels ORDER BY rel DESC, cid LIMIT {MMR_CANDS}
),
sims AS (
  SELECT a.cid AS cid, b.cid AS cid_b,
    round({duck_cosine_sql('ea.embedding', 'eb.embedding', 'na.nrm', 'nb.nrm')}, 4) AS sim
  FROM pool a JOIN pool b ON a.cid <> b.cid
  JOIN embeddings ea ON ea.vec_id = a.cid
  JOIN embeddings eb ON eb.vec_id = b.cid
  JOIN norms na ON na.vec_id = a.cid
  JOIN norms nb ON nb.vec_id = b.cid
),
s1 AS (
  SELECT cid, rel, round({lam} * rel, 6) AS score
  FROM pool ORDER BY rel DESC, cid LIMIT 1
),{",".join(rounds)}
SELECT * FROM ({picks})
ORDER BY rank
"""


ORACLE["mmr_diverse_topk"] = _duck_mmr_sql()
QUERIES["mmr_diverse_topk"] = mmr_diverse_topk


# ---------------------------------------------------------------------------
# contrastive training-pair sampler (positives by label, md5 negatives)
# ---------------------------------------------------------------------------

CONTRASTIVE_BUCKETS = 32


def contrastive_pair_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive-pair generation — the (anchor,
    positive, negative) triplet feed an embedding-training pipeline
    materializes — plus its quality ledger: per label, how many anchors
    got a positive/negative and the mean anchor·positive vs
    anchor·negative cosine (the margin a triplet loss would see; ≈0
    here means the labels are NOT embedding-clustered, which is itself
    the audit's answer).

    Positives: next same-label vec in id order, wrapping (a ring over
    each label — every anchor in a ≥2-member label gets exactly one,
    window-computed, no join). Negatives: md5-bucket equi-join (32
    buckets) against other-label members, min-id per anchor — a
    deterministic stand-in for uniform negative sampling that keeps the
    join EQUI (cross-engine rule; production swaps the md5 for a seeded
    rand and drops the oracle). Shape at scale: one label-partitioned
    window + one bucket-keyed join, both partial-aggregating; cosines
    only on the sampled pairs, never all-pairs.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").alias("e")
    )
    w = Window.partitionBy("label").orderBy("vec_id")
    anchors = emb.select(
        "vec_id",
        "label",
        "e",
        F.coalesce(
            F.lead("vec_id").over(w),
            F.first("vec_id").over(
                w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        ).alias("pos_id"),
        (
            F.expr(md5_int_sql("CAST(vec_id AS STRING)"))
            % CONTRASTIVE_BUCKETS
        ).alias("bkt"),
    ).filter(F.col("pos_id") != F.col("vec_id"))
    cand = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        (
            F.expr(md5_int_sql("CAST(vec_id AS STRING)"))
            % CONTRASTIVE_BUCKETS
        ).alias("bkt"),
    )
    negs = (
        anchors.select("vec_id", "label", "bkt")
        .join(cand, "bkt")
        .filter(F.col("neg_label") != F.col("label"))
        .groupBy("vec_id")
        .agg(F.min("neg_id").alias("neg_id"))
    )
    pos_e = emb.select(
        F.col("vec_id").alias("pos_id"), F.col("e").alias("pe")
    )
    neg_e = emb.select(
        F.col("vec_id").alias("neg_id"), F.col("e").alias("ne")
    )
    # 1e4-scaled INTEGER cosines: averaging many inexact 4dp doubles
    # lands on rounding knife-edges (an avg of 54 values hit x.xxxx5 in
    # testing and flipped between engines); integer sums are exact and
    # the average is ONE deterministic division per group
    pos_i = F.round(_cosine_expr("e", "pe") * 10000, 0).cast("bigint")
    neg_i = F.when(
        F.col("ne").isNotNull(),
        F.round(_cosine_expr("e", "ne") * 10000, 0).cast("bigint"),
    )
    triplets = (
        anchors.join(pos_e, "pos_id")
        .join(negs, "vec_id", "left")
        .join(neg_e, "neg_id", "left")
        .select("label", pos_i.alias("pos_i"), neg_i.alias("neg_i"))
    )
    avg_pos = F.sum("pos_i") / (F.count(F.lit(1)) * 10000.0)
    avg_neg = F.sum("neg_i") / (
        F.sum(F.col("neg_i").isNotNull().cast("int")) * 10000.0
    )
    return (
        triplets.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_anchors"),
            F.sum(F.col("neg_i").isNotNull().cast("int")).alias("n_neg"),
            (F.round(avg_pos, 4) + F.lit(0.0)).alias("avg_pos_cos"),
            (F.round(avg_neg, 4) + F.lit(0.0)).alias("avg_neg_cos"),
            (F.round(avg_pos - avg_neg, 4) + F.lit(0.0)).alias("margin"),
        )
        .orderBy("label")
    )


def _duck_contrastive_sql() -> str:
    h = duck_md5_int("CAST(vec_id AS VARCHAR)")
    # cos is an ordered list_reduce fold (functions/vector_sql.py) —
    # bit-identical to Spark's _cosine_expr before the 1e4 scaling
    return f"""
WITH norms AS (
  SELECT vec_id, {duck_l2_sql('embedding')} AS nrm
  FROM embeddings
),
anchors AS (
  SELECT vec_id, label,
    coalesce(lead(vec_id) OVER w,
             first_value(vec_id) OVER (PARTITION BY label ORDER BY vec_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      AS pos_id,
    {h} % {CONTRASTIVE_BUCKETS} AS bkt
  FROM embeddings
  WINDOW w AS (PARTITION BY label ORDER BY vec_id)
),
eligible AS (SELECT * FROM anchors WHERE pos_id <> vec_id),
negs AS (
  SELECT a.vec_id, min(c.vec_id) AS neg_id
  FROM eligible a
  JOIN (
    SELECT vec_id, label, {h} % {CONTRASTIVE_BUCKETS} AS bkt
    FROM embeddings
  ) c ON c.bkt = a.bkt AND c.label <> a.label
  GROUP BY a.vec_id
),
cos AS (
  SELECT x.vec_id AS a_id, y.vec_id AS b_id,
    CAST(round({duck_cosine_sql('x.embedding', 'y.embedding', 'nx.nrm', 'ny.nrm')}
      * 10000, 0) AS BIGINT) AS c
  FROM embeddings x
  JOIN (SELECT DISTINCT a_id, b_id FROM (
      SELECT vec_id AS a_id, pos_id AS b_id FROM eligible
      UNION ALL
      SELECT vec_id AS a_id, neg_id AS b_id FROM negs
    )) pr ON pr.a_id = x.vec_id
  JOIN embeddings y ON y.vec_id = pr.b_id
  JOIN norms nx ON nx.vec_id = x.vec_id
  JOIN norms ny ON ny.vec_id = y.vec_id
),
triplets AS (
  SELECT e.label,
    cp.c AS pos_cos,
    cn.c AS neg_cos
  FROM eligible e
  JOIN cos cp ON cp.a_id = e.vec_id AND cp.b_id = e.pos_id
  LEFT JOIN negs n ON n.vec_id = e.vec_id
  LEFT JOIN cos cn ON cn.a_id = e.vec_id AND cn.b_id = n.neg_id
)
SELECT label,
  CAST(count(*) AS BIGINT) AS n_anchors,
  CAST(sum(CASE WHEN neg_cos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_neg,
  round(CAST(sum(pos_cos) AS DOUBLE) / (count(*) * 10000.0), 4) + 0.0
    AS avg_pos_cos,
  round(CAST(sum(neg_cos) AS DOUBLE)
        / (sum(CASE WHEN neg_cos IS NOT NULL THEN 1 ELSE 0 END) * 10000.0),
        4) + 0.0 AS avg_neg_cos,
  round(CAST(sum(pos_cos) AS DOUBLE) / (count(*) * 10000.0)
        - CAST(sum(neg_cos) AS DOUBLE)
          / (sum(CASE WHEN neg_cos IS NOT NULL THEN 1 ELSE 0 END)
             * 10000.0), 4) + 0.0 AS margin
FROM triplets
GROUP BY label
ORDER BY label
"""


ORACLE["contrastive_pair_sample"] = _duck_contrastive_sql()
QUERIES["contrastive_pair_sample"] = contrastive_pair_sample


# ---------------------------------------------------------------------------
# SemDeDup: k-means cells + intra-cell cosine near-dup pairs
# ---------------------------------------------------------------------------


SEMDEDUP_PROBES = 2  # each vector searches its 2 nearest cells


def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space with
    k-means, then look for near-duplicate pairs ONLY inside each cell —
    the bucketed form of embedding dedup that actually runs at 100 TB.
    ``embedding_dup_pairs`` is the exact all-pairs audit (O(N²) flops and
    IO by construction); this operator replaces the corpus-wide
    quadratic with Σ|cell|² = N²/k work, and in production k grows ∝ N
    (fixed TARGET cell population — k ∝ √N, the weaker constant
    sometimes quoted, still leaves cell populations growing as √N and
    total work as N^1.5), so per-cell work is constant and total work
    linear as the corpus grows. ``semantic_dedup_pairs_scaled`` is that
    production form (k = N / SEMDEDUP_CELL_POP, identical to this entry
    at the oracle SF where the formula floors to KMEANS_K); the
    1×/2×/5× probe in SCALE.md measures its near-flat per-row curve
    against this fixed-k entry's super-linear one. Recall loss at cell
    boundaries is
    repaired the multiprobe way: each vector searches its
    ``SEMDEDUP_PROBES`` nearest cells (the rn=1 probe IS the Lloyd
    assignment), so a near-dup pair straddling a centroid boundary still
    collides; ``tests/test_round5.py`` pins measured recall against the
    exact all-pairs audit.

    Shape at scale: the Lloyd fit is the shared ``_kmeans_assign`` loop
    (broadcast k×d centroids, map-side folds — never a driver loop);
    probe expansion is one more broadcast-rank pass; the pair search is
    ONE shuffle clustering vectors by cell id, then a per-cell
    ``applyInPandas`` BLAS matmul (the ``embedding_dup_pairs`` lever —
    an expression-tree self-join evaluated 2M interpreted per-pair
    lambdas and measured 79 s at sf0.1; the vectorized form is 1.5 s),
    row-chunked inside the closure so task memory is one chunk × cell,
    never cell². Cross-engine: assignments replay exactly (6dp/8dp
    fixed-point rounding, the kmeans recipe); the BLAS pass is ONLY a
    conservative candidate prefilter (margin 5e-5 ≫ the ~1e-15
    BLAS-vs-fold summation skew) — the cosine that gets rounded,
    thresholded, and emitted is recomputed on the candidate pairs with
    the ordered-fold ``_cosine_expr``, BIT-identical to the oracle's
    ``duck_cosine_sql`` fold, so the keep/drop decision can never
    straddle a 4dp boundary between engines.

    Reference parity: extends the churn app's duplicate-row drop
    (``app_test.py`` pandas ``drop_duplicates`` analogue) to semantic
    near-dups — no reference counterpart; public-knowledge design.
    """
    return _semantic_pairs(spark, sf_dir).orderBy(
        "cell", "vec_id_a", "vec_id_b"
    )


def _semantic_pairs(
    spark: SparkSession, sf_dir: str, k: int = KMEANS_K
) -> DataFrame:
    """The UNSORTED SemDeDup pair relation (cell, vec_id_a, vec_id_b,
    cosine) — ``semantic_dedup_pairs`` adds the presentation sort;
    ``semantic_dedup_survivors`` feeds it to label propagation (which
    would destroy a sort anyway). Shared-helper rule: the survivor
    layer must collapse exactly the pairs the pair report shows.
    ``k`` is the cell count (default: the oracle-checked KMEANS_K;
    ``semantic_dedup_pairs_scaled`` passes the production value)."""
    _, _, cent_struct = _kmeans_assign(_embedding_vectors(spark, sf_dir), k)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    # probe expansion is a map-side prefix of the same ranked-cells
    # array the Lloyd assignment took element 1 of — no window shuffle
    probes = (
        emb.join(F.broadcast(cent_struct))
        .select(
            "vec_id",
            "embedding",
            F.explode(
                F.expr(
                    f"slice({_kmeans_ranked_cells_expr()}, 1, "
                    f"{SEMDEDUP_PROBES})"
                )
            ).alias("dk"),
        )
        .select(F.col("dk.k").alias("cell"), "vec_id", "embedding")
    )
    # raw prefilter strictly below the rounded threshold so no boundary
    # candidate is lost before Spark-side F.round decides (dedup recipe).
    # The extra 1e-9 puts the gate strictly BELOW the half-up rounding
    # half-width: a fold cosine of exactly T-5e-5 rounds up to T, and the
    # BLAS value can sit ~1e-15 under the fold — without the epsilon that
    # one boundary point could drop a candidate the oracle keeps.
    pre = COSINE_DUP_THRESHOLD - 5e-5 - 1e-9
    chunk = 4096

    def cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "cell": pd.Series(dtype="int64"),
                "vec_id_a": pd.Series(dtype="int64"),
                "vec_id_b": pd.Series(dtype="int64"),
            }
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        cell = int(pdf["cell"].iloc[0])
        m = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )
        nrm = np.sqrt((m * m).sum(axis=1))
        nrm[nrm == 0] = 1.0
        outs = [empty]
        for s in range(0, len(ids), chunk):
            blk = slice(s, s + chunk)
            sim = (m[blk] @ m.T) / np.outer(nrm[blk], nrm)
            bi, bj = np.nonzero(sim >= pre)
            keep = (bi + s) < bj  # vec_id order == row order (sorted)
            outs.append(
                pd.DataFrame(
                    {
                        "cell": cell,
                        "vec_id_a": ids[bi[keep] + s],
                        "vec_id_b": ids[bj[keep]],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    cand = probes.groupBy("cell").applyInPandas(
        cell_pairs,
        schema="cell long, vec_id_a long, vec_id_b long",
    )
    # the emitted cosine is the ORDERED FOLD recomputed on the (tiny)
    # candidate set — the BLAS value above only gated candidacy, with the
    # gate an epsilon below the rounding half-width so BLAS-vs-fold skew
    # can never straddle candidacy
    ea = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("ea")
    )
    eb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("eb")
    )
    # a pair can share BOTH probed cells — collapse to its first shared
    # cell (min) so each near-dup pair reports exactly once
    return (
        cand.join(ea, "vec_id_a")
        .join(eb, "vec_id_b")
        .select(
            "cell",
            "vec_id_a",
            "vec_id_b",
            F.round(_cosine_expr("ea", "eb"), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(COSINE_DUP_THRESHOLD))
        .groupBy("vec_id_a", "vec_id_b")
        .agg(F.min("cell").alias("cell"), F.min("cosine").alias("cosine"))
        .select("cell", "vec_id_a", "vec_id_b", "cosine")
    )


def _duck_semantic_pairs_ctes(
    long: str = "long", k_sql: str | None = None
) -> str:
    """The shared WITH-chain of the SemDeDup oracle (Lloyd prefix,
    2-probe expansion, norms, raw per-cell pair cosines) — composed by
    BOTH the ``semantic_dedup_pairs`` and ``semantic_dedup_survivors``
    oracles so they replay the identical pair mining (the oracle twin
    of ``_semantic_pairs``). ``long`` renames the kmeans prefix's
    dim-exploded CTE when a composing query (the corpus funnel) also
    interpolates the MinHash chain, which owns the name ``long``.
    ``k_sql`` (a SQL scalar expression) overrides the fixed KMEANS_K
    cell count — the Lloyd chain is k-agnostic past the c0 init because
    centroids are ROWS, so the k∝N production entry replays with a
    scalar subquery for k."""
    last = KMEANS_ROUNDS
    return f"""{_duck_kmeans_prefix(long=long, k_sql=k_sql)},
probes AS (
  SELECT vec_id, k AS cell FROM (
    SELECT vec_id, k,
      row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
    FROM d{last}
  ) WHERE rn <= {SEMDEDUP_PROBES}
),
norms AS (
  SELECT vec_id, {duck_l2_sql('embedding')} AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.cell, a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
    round({duck_cosine_sql('x.embedding', 'y.embedding', 'nx.nrm', 'ny.nrm')}, 4)
      AS cosine
  FROM probes a
  JOIN probes b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN embeddings x ON x.vec_id = a.vec_id
  JOIN embeddings y ON y.vec_id = b.vec_id
  JOIN norms nx ON nx.vec_id = a.vec_id
  JOIN norms ny ON ny.vec_id = b.vec_id
)"""


def _duck_semantic_dedup_sql() -> str:
    return f"""
WITH {_duck_semantic_pairs_ctes()}
SELECT min(cell) AS cell, vec_id_a, vec_id_b, min(cosine) AS cosine
FROM pairs
WHERE cosine >= CAST({COSINE_DUP_THRESHOLD} AS DOUBLE)
GROUP BY vec_id_a, vec_id_b
ORDER BY cell, vec_id_a, vec_id_b
"""


ORACLE["semantic_dedup_pairs"] = _duck_semantic_dedup_sql()
QUERIES["semantic_dedup_pairs"] = semantic_dedup_pairs


SEMDEDUP_CELL_POP = 1250  # target vectors per Lloyd cell (k = N / this)


def semantic_dedup_pairs_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of ``semantic_dedup_pairs``: the cell count
    scales with the corpus (k = max(KMEANS_K, N div SEMDEDUP_CELL_POP))
    so the expected cell population — and with it the per-cell
    quadratic — is CONSTANT and total pair work is linear in N. The
    only extra cost of scaling k is the Lloyd fit itself (k·d broadcast
    row, k·N map-side distance folds per round — both linear in k); the
    SCALE.md 1×/2×/5× table measures this entry's ~flat per-row curve
    against the fixed-k entry's super-linear one.

    Registered in round 9 with its OWN oracle (VERDICT r8 item 2): the
    Lloyd CTE chain is k-agnostic past the ``c0`` init (centroids are
    rows), so the oracle derives the SAME k with a scalar subquery
    (``greatest(KMEANS_K, count(*) // SEMDEDUP_CELL_POP)``) against the
    ``vec_id < k`` deterministic init — the k∝N lever itself is
    hash-checked, at any SF where vec_ids are 0..N-1 (the testdata
    layout). At the driver SF the formula floors to KMEANS_K and the
    output equals the fixed-k entry (pinned by test); lever-ENGAGED
    oracle parity (k = 8 > KMEANS_K via a shrunk cell-population
    target) is pinned in test_round10.py::TestSemanticScaledLeverEngaged
    (ADVICE r9)."""
    n = load_table(spark, sf_dir, "embeddings").count()
    k = max(KMEANS_K, n // SEMDEDUP_CELL_POP)
    return _semantic_pairs(spark, sf_dir, k=k).orderBy(
        "cell", "vec_id_a", "vec_id_b"
    )


_SEM_K_SUBQUERY = (
    f"SELECT greatest({KMEANS_K}, count(*) // {SEMDEDUP_CELL_POP}) "
    "FROM embeddings"
)


def _duck_semantic_dedup_scaled_sql() -> str:
    return f"""
WITH {_duck_semantic_pairs_ctes(k_sql=_SEM_K_SUBQUERY)}
SELECT min(cell) AS cell, vec_id_a, vec_id_b, min(cosine) AS cosine
FROM pairs
WHERE cosine >= CAST({COSINE_DUP_THRESHOLD} AS DOUBLE)
GROUP BY vec_id_a, vec_id_b
ORDER BY cell, vec_id_a, vec_id_b
"""


ORACLE["semantic_dedup_pairs_scaled"] = _duck_semantic_dedup_scaled_sql()
QUERIES["semantic_dedup_pairs_scaled"] = semantic_dedup_pairs_scaled


def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survivor layer that turns SemDeDup pairs into an actual
    deduplicated corpus — the semantic stage of the corpus-clean funnel:
    connected components over the ``_semantic_pairs`` edges (min-label
    propagation with path halving, the ``near_dup_clusters`` loop), then
    per cluster keep the HIGHEST-quality document (tie → lowest id) and
    report what was dropped — the quality-aware keep policy of
    ``near_dup_survivors`` applied to embedding-space duplicates
    (``vec_id`` indexes the embedding of the same-id ``documents`` row,
    so quality joins straight onto the cluster labels).

    Scale shape: pair mining is the bucketed SemDeDup plan (one cell-id
    shuffle, per-cell BLAS); the propagation tail touches only docs
    WITH semantic dups (tiny — scoped to narrow shuffle width); the
    cluster-label join onto the corpus-sized quality scan is
    size-driven (labels are dup-volume-bounded, not a priori tiny), and
    the
    survivor pick is a ``max(struct(quality, -id))`` argmax aggregate —
    partial-aggregating, never a corpus window. Cross-engine: the
    DuckDB oracle saturates the same components with a recursive CTE
    over the identical pair relation and replays the quality gate from
    the shared ``duck_quality_ctes`` text."""
    from .dedup import _survivor_report
    from .text import quality_score_col

    clusters = _semantic_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split(F.trim(F.col("text")), r"\s+")
    )
    quality = docs.select("doc_id", quality_score_col().alias("quality"))
    return _survivor_report(clusters, quality)


def _semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the SemDeDup pair edges — the shared
    cluster-label relation (doc_id, cluster_id = component min) behind
    ``semantic_dedup_survivors`` AND the corpus funnel's semantic stage
    (one definition so the two can't drift)."""
    from .dedup import _star_components

    pairs = (
        _semantic_pairs(spark, sf_dir)
        .select("vec_id_a", "vec_id_b")
        .localCheckpoint()
    )
    edges = pairs.union(
        pairs.select(
            F.col("vec_id_b").alias("vec_id_a"),
            F.col("vec_id_a").alias("vec_id_b"),
        )
    ).select(
        F.col("vec_id_a").alias("doc_id_1"),
        F.col("vec_id_b").alias("doc_id_2"),
    )
    # the semantic dup graph is CHAINS (measured: 863 edges, 14
    # propagation rounds at sf0.1 — rounds track component diameter,
    # not volume), so per-round fixed cost dominates: width 2 measured
    # fastest (4.2 s vs 5.6 s at near_dup_clusters' width 4; a second
    # pointer jump per round did NOT cut rounds — min labels still
    # travel one EDGE hop per round on chains)
    with loop_width(spark, 2):
        return _star_components(edges)


def _duck_semantic_survivors_sql() -> str:
    from .dedup import duck_survivor_tail
    from .text import duck_quality_ctes

    return f"""
WITH RECURSIVE {_duck_semantic_pairs_ctes()},
p AS (
  SELECT DISTINCT vec_id_a AS a, vec_id_b AS b FROM pairs
  WHERE cosine >= CAST({COSINE_DUP_THRESHOLD} AS DOUBLE)
),
edges AS (
  SELECT a, b FROM p
  UNION ALL
  SELECT b, a FROM p
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clusters AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
  FROM reach GROUP BY a
),
{duck_quality_ctes(t="qt", s="qs", q="qq")},
{duck_survivor_tail()}
"""


ORACLE["semantic_dedup_survivors"] = _duck_semantic_survivors_sql()
QUERIES["semantic_dedup_survivors"] = semantic_dedup_survivors


# ---------------------------------------------------------------------------
# cluster-balanced coreset sampling from the k-means cells
# ---------------------------------------------------------------------------

CBS_K = 5  # vectors kept per cell


def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced coreset selection: exactly min(k, |cell|)
    vectors per k-means cell, chosen by smallest md5-derived priority —
    the diversity-preserving downsample a training pipeline runs after
    (or instead of) SemDeDup, so no embedding mode dominates the kept
    set. The per-stratum mechanics are ``fixed_k_group_sample``'s
    (deterministic bottom-k by stable hash priority: same rows survive
    any growth step, partitioning, or engine); the strata are the SAME
    Lloyd cells ``semantic_dedup_pairs`` buckets by (shared
    ``_kmeans_assign``), so the two operators compose into one
    dedup-then-balance pass over one clustering.

    Scale shape: assignment is map-side vs broadcast centroids; the only
    shuffle is the per-cell rank window, which at scale is a per-key
    TakeOrdered (bottom-k heaps, no global sort).
    """
    assigned, _, _ = _kmeans_assign(_embedding_vectors(spark, sf_dir))
    pri = F.expr(md5_int_sql("CAST(vec_id AS STRING)")).alias("priority")
    wr = Window.partitionBy("cell").orderBy("priority", "vec_id")
    return (
        assigned.select(F.col("k").alias("cell"), "vec_id")
        .select("cell", "vec_id", pri)
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= CBS_K)
        .select("cell", "rank", "vec_id", "priority")
        .orderBy("cell", "rank")
    )


def _duck_cbs_sql() -> str:
    last = KMEANS_ROUNDS
    pri = duck_md5_int("CAST(vec_id AS VARCHAR)")
    return f"""
WITH {_duck_kmeans_prefix()},
pris AS (
  SELECT k AS cell, vec_id, {pri} AS priority FROM a{last}
),
ranked AS (
  SELECT cell, vec_id, priority,
    CAST(row_number() OVER (PARTITION BY cell
                            ORDER BY priority, vec_id) AS INT) AS rank
  FROM pris
)
SELECT cell, rank, vec_id, priority
FROM ranked WHERE rank <= {CBS_K}
ORDER BY cell, rank
"""


ORACLE["cluster_balanced_sample"] = _duck_cbs_sql()
QUERIES["cluster_balanced_sample"] = cluster_balanced_sample


# ---------------------------------------------------------------------------
# product quantization (PQ) codebook fit + reconstruction audit
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_SUB = EMB_DIM // PQ_M  # dims per subspace (16)
PQ_K = 4  # codewords per subspace
PQ_ROUNDS = 2  # Lloyd rounds per subspace codebook


def _pq_ranked_codes_expr(m: str, sv: str, cs: str = "cs") -> str:
    """All ``PQ_K`` codewords of subspace ``m`` ranked by 8dp-rounded
    squared L2 distance of the subvector ``sv`` to each codeword in the
    1-row collected codebook column ``cs`` — struct sort on (d, code) is
    the oracle's ``ORDER BY d, code``, so element 1 IS the PQ encoding.
    Shared by the ``_pq_fit`` Lloyd loop and the ``knn_ivfpq`` encoder
    (the ``_kmeans_ranked_cells_expr`` pattern, keyed by subspace)."""
    return (
        f"array_sort(transform(filter({cs}, c -> c.m = {m}), c -> struct("
        f"round(aggregate(zip_with({sv}, c.cv, (x, cc) -> (x - cc) * (x - cc)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v), 8) AS d, c.code AS code)))"
    )


def _pq_fit(spark: SparkSession, sf_dir: str):
    """The shared per-subspace Lloyd codebook fit: ``PQ_ROUNDS`` fixed
    rounds over each of the ``PQ_M`` subspaces, deterministic init (the
    first ``PQ_K`` vectors' subvectors), 6dp codeword / 8dp distance
    rounding at every boundary. Returns ``(subs, assigned, cent_struct)``
    — the (vec_id, m, sv) subvector relation, the final per-(vec_id, m)
    assignment with its ``best`` (d, code) struct, and the 1-row
    collected codebook table the final assignment ranked against (column
    ``cs``: array of (m, code, cv) structs — broadcastable, so a
    consumer can encode or build ADC tables consistently with
    ``assigned``). ``pq_codebook_audit`` and ``knn_ivfpq`` BOTH build on
    this one loop (shared-helper rule: the audit must describe exactly
    the codebooks the search path uses)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    subs = emb.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), m -> struct("
                f"m AS m, slice(e, {PQ_SUB} * m + 1, {PQ_SUB}) AS sv))"
            )
        ).alias("p"),
    ).select("vec_id", "p.m", "p.sv")
    long = subs.select(
        "vec_id", "m", F.posexplode("sv").alias("dim", "x")
    )
    cents = (
        long.filter(F.col("vec_id") < PQ_K)
        .select(
            "m",
            F.col("vec_id").alias("code"),
            "dim",
            F.round("x", 6).alias("c"),
        )
    )
    # all m×k codeword arrays in ONE broadcast row; assignment is a pure
    # map-side argmin (the kmeans ranked-cells lever, keyed by subspace)
    rank_expr = _pq_ranked_codes_expr("m", "sv")
    with loop_width(spark, 8):
        assigned = None
        for _ in range(PQ_ROUNDS):
            cent_struct = (
                cents.groupBy("m", "code")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "c"))
                    ).alias("sc")
                )
                .select(
                    "m", "code", F.expr("transform(sc, s -> s.c)").alias("cv")
                )
                .groupBy()
                .agg(F.collect_list(F.struct("m", "code", "cv")).alias("cs"))
            )
            assigned = subs.join(F.broadcast(cent_struct)).select(
                "vec_id",
                "m",
                "sv",
                F.expr(f"element_at({rank_expr}, 1)").alias("best"),
            )
            # codeword update straight off `assigned` (which still
            # carries `sv`): posexplode in place of the per-round
            # (vec_id, m) join against the exploded subvector relation
            # (r13, guide §2.3/§2.4) — the round's only shuffle is the
            # (m, code, dim) partial agg. The code is materialized in
            # its own select BEFORE the generator select, so the k-way
            # argmin fold is not hoisted above the Generate (once per
            # subvector, not per dim). Same rows → identical codebooks.
            cents = (
                assigned.select(
                    "m", F.col("best.code").alias("code"), "sv"
                )
                .select("m", "code", F.posexplode("sv").alias("dim", "x"))
                .groupBy("m", "code", "dim")
                .agg(F.round(F.avg("x"), 6).alias("c"))
                .localCheckpoint()
            )
    return subs, assigned, cent_struct


def pq_codebook_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011) — the FAISS compression
    layer ``knn_ivfpq`` pairs with the coarse quantizer at 100 TB: split
    each vector into ``PQ_M`` subspaces, fit a tiny per-subspace
    codebook with the same fixed-round deterministic Lloyd recipe as
    ``kmeans_fit_centroids``, and report per (subspace, codeword) the
    utilization and mean reconstruction error — the audit that decides
    whether m/k give an acceptable accuracy/compression trade (64 dims ×
    float32 → 4 bytes is 64× smaller).

    Every step is the kmeans scale shape generalized to (subspace, code)
    keys: assignment is a map-side argmin against ONE broadcast row
    holding all m×k codeword arrays; updates partial-aggregate
    (m·k·d_sub) sums per partition. Cross-engine: 6dp codeword / 8dp
    distance fixed-point rounding (assignments replay exactly in the
    unrolled oracle); the MSE average scales the distances to exact
    1e6 integers before summing (the contrastive-pair recipe) so the
    only float division is the final one, rounded 6dp with the ±0.0
    guard. The scale is 1e6, NOT 1e8: Spark 4 ANSI mode THROWS on
    BIGINT sum overflow, and 1e6 keeps full 6dp MSE precision with
    ~100× more headroom (≈9e12 vectors per codeword at d_int ~1e6
    before 2⁶³ — comfortably past any real corpus; 1e8 got within
    reach of a ~1e9-vector cell)."""
    _, assigned, _ = _pq_fit(spark, sf_dir)
    d_int = F.expr(
        "CAST(round(best.d * 1000000, 0) AS BIGINT)"
    )
    avg_mse = F.col("sum_d") / (
        F.col("n_vecs") * float(PQ_SUB) * 1e6
    )
    return (
        assigned.select(
            "m", F.col("best.code").alias("code"), d_int.alias("di")
        )
        .groupBy("m", "code")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("di").alias("sum_d"),
        )
        .select(
            F.col("m").alias("subspace"),
            "code",
            "n_vecs",
            (F.round(avg_mse, 6) + F.lit(0.0)).alias("avg_mse"),
        )
        .orderBy("subspace", "code")
    )


def _duck_pq_prefix(p: str = "") -> str:
    """The shared WITH-chain of the unrolled PQ-codebook oracle
    (subvector explode, per-round codeword arrays / distances / argmin
    assignments / centroid updates) — the DuckDB twin of ``_pq_fit``.
    ``p`` prefixes every CTE name so the chain can compose with the
    kmeans prefix (whose ``long``/``e_arr``/``c0``/``carr``/``d``/``a``/
    ``c`` names would otherwise collide) in the ``knn_ivfpq`` oracle.
    Final assignment CTE: ``{p}a{PQ_ROUNDS}`` (vec_id, m, code, d); the
    all-codes distance relation is ``{p}d{PQ_ROUNDS}``."""
    fold = (
        "round(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(e.sv, (x, i) -> (x - c.cv[i]) * (x - c.cv[i]))), "
        "(acc, v) -> acc + v), 8)"
    )
    rounds = []
    prev = f"{p}c0"
    for r in range(1, PQ_ROUNDS + 1):
        rounds.append(f"""
{p}carr{r} AS (
  SELECT m, code, list(c ORDER BY dim) AS cv FROM {prev} GROUP BY m, code
),
{p}d{r} AS (
  SELECT e.vec_id, e.m, c.code, {fold} AS d
  FROM {p}e_arr e JOIN {p}carr{r} c ON c.m = e.m
),
{p}a{r} AS (
  SELECT vec_id, m, code, d FROM (
    SELECT vec_id, m, code, d,
      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
    FROM {p}d{r}
  ) WHERE rn = 1
),
{p}c{r} AS (
  SELECT a.m, a.code, l.dim, round(avg(l.x), 6) AS c
  FROM {p}a{r} a JOIN {p}long l ON l.vec_id = a.vec_id AND l.m = a.m
  GROUP BY 1, 2, 3
)""")
        prev = f"{p}c{r}"
    return f"""{p}dims AS (
  SELECT m.m, i.i FROM generate_series(0, {PQ_M - 1}) m(m)
  CROSS JOIN UNNEST(generate_series(1, {PQ_SUB})) i(i)
),
{p}long AS (
  SELECT vec_id, d.m, d.i - 1 AS dim,
    CAST(embedding[{PQ_SUB} * d.m + d.i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN {p}dims d
),
{p}e_arr AS (
  SELECT vec_id, m, list(x ORDER BY dim) AS sv FROM {p}long GROUP BY vec_id, m
),
{p}c0 AS (
  SELECT m, vec_id AS code, dim, round(x, 6) AS c FROM {p}long
  WHERE vec_id < {PQ_K}
),{",".join(rounds)}"""


def _duck_pq_sql() -> str:
    last = PQ_ROUNDS
    return f"""
WITH {_duck_pq_prefix()}
SELECT m AS subspace, code, CAST(count(*) AS BIGINT) AS n_vecs,
  round(CAST(sum(CAST(round(d * 1000000, 0) AS BIGINT)) AS DOUBLE)
        / (count(*) * {PQ_SUB} * 1000000), 6) + 0.0 AS avg_mse
FROM a{last}
GROUP BY m, code
ORDER BY subspace, code
"""


ORACLE["pq_codebook_audit"] = _duck_pq_sql()
QUERIES["pq_codebook_audit"] = pq_codebook_audit


# ---------------------------------------------------------------------------
# IVF-PQ asymmetric-distance (ADC) search — the full FAISS serving shape
# ---------------------------------------------------------------------------

IVFPQ_NPROBE = 2  # coarse cells searched per query
IVFPQ_SHORTLIST = 50  # ADC candidates kept per query for exact rerank
IVFPQ_TOP_K = 5


def knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search with asymmetric-distance computation (Jégou et al.
    2011) — the query path that combines the coarse quantizer
    (``_kmeans_assign`` cells, the ``knn_ivf`` pruning idea) with the
    ``_pq_fit`` codebooks the ``pq_codebook_audit`` exists to justify:
    the actual 100 TB FAISS serving shape, end to end.

      1. ENCODE: every corpus vector → (cell, code₀..code₃) — one
         map-side pass against TWO broadcast 1-row tables (centroids +
         codebooks). At scale this runs once at ingest and the index
         table stores 1 int + m bytes per vector (64× smaller than the
         float payload); here it fuses into the scan.
      2. PROBE: each query ranks the broadcast centroids and searches
         its ``IVFPQ_NPROBE`` nearest cells (the SemDeDup prefix of the
         same ranked-cells array — no window shuffle).
      3. ADC: per query, a ``PQ_M × PQ_K`` lookup table of subspace
         distances to every codeword (m·k floats — broadcast-tiny);
         a candidate's approximate distance is the SUM of m table
         lookups on its codes, never touching the original vector.
      4. RERANK: exact full-dimension cosine on the ``IVFPQ_SHORTLIST``
         ADC-best candidates only (the ``knn_jl_projected`` two-stage
         shape), top-k emitted.

    Scale shape: steps 1–3 are map-side over the corpus stream (the
    probe/LUT relation is queries × nprobe rows, broadcast); the ONLY
    shuffle is the per-query shortlist/rerank window over candidate
    rows. Cross-engine: cells and codes replay exactly (6dp/8dp
    fixed-point Lloyd, shared with the kmeans/PQ oracles); LUT entries
    are 8dp distances scaled to exact 1e6 BIGINTs, so the ADC sum is
    order-free integer arithmetic and the shortlist cut can't straddle
    a float boundary; the rerank reuses the 4dp ordered-fold cosine +
    id tie convention. ``tests/test_round6.py`` pins recall vs
    ``knn_brute_force``.
    """
    _, _, km_cs = _kmeans_assign(_embedding_vectors(spark, sf_dir))
    _, _, pq_cs = _pq_fit(spark, sf_dir)
    # both broadcast tables expose a `cs` column — re-alias the PQ one
    pq_cs = pq_cs.select(F.col("cs").alias("pcs"))
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    sub = f"slice(e, {PQ_SUB} * mi + 1, {PQ_SUB})"
    codes_expr = (
        f"transform(sequence(0, {PQ_M - 1}), mi -> "
        f"element_at({_pq_ranked_codes_expr('mi', sub, 'pcs')}, 1).code)"
    )
    enc = (
        emb.join(F.broadcast(km_cs))
        .join(F.broadcast(pq_cs))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("ne"),
            F.expr(
                f"element_at({_kmeans_ranked_cells_expr()}, 1).k"
            ).alias("cell"),
            F.expr(codes_expr).alias("codes"),
        )
    )
    # per-query ADC lookup table: d(query subvector, codeword) for ALL
    # (m, code), 8dp-rounded then scaled to exact 1e6 integers — the
    # same d_int quantization the PQ audit sums (and the oracle's
    # pqd{last} relation filtered to query vec_ids). try_element_at, NOT
    # element_at: a codeword whose Lloyd cluster empties drops out of
    # pcs, and ANSI element_at on the empty filter() result would THROW
    # at LUT-build time (the oracle only joins live codes and would
    # keep returning rows). The dead slot becomes NULL and is provably
    # never dereferenced — no corpus vector can carry a code that has
    # no members. tests/test_round6.py forces an empty codeword and
    # pins engine agreement.
    lut_expr = (
        f"transform(sequence(0, {PQ_M - 1}), mi -> "
        f"transform(sequence(0, {PQ_K - 1}), cd -> "
        "CAST(round(round(aggregate(zip_with("
        f"{sub}, try_element_at(filter(pcs, c -> c.m = mi AND c.code = cd), "
        "1).cv, "
        "(x, cc) -> (x - cc) * (x - cc)), CAST(0 AS DOUBLE), "
        "(acc, v) -> acc + v), 8) * 1000000, 0) AS BIGINT)))"
    )
    q = (
        emb.filter(F.col("vec_id") < N_QUERY_VECTORS)
        .join(F.broadcast(km_cs))
        .join(F.broadcast(pq_cs))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.explode(
                F.expr(
                    f"slice({_kmeans_ranked_cells_expr()}, 1, "
                    f"{IVFPQ_NPROBE})"
                )
            ).alias("dk"),
            F.expr(lut_expr).alias("lut"),
        )
        .select("query_id", "qe", F.col("dk.k").alias("cell"), "lut")
    )
    adc_expr = (
        f"aggregate(sequence(0, {PQ_M - 1}), CAST(0 AS BIGINT), (acc, mi) -> "
        "acc + element_at(element_at(lut, CAST(mi + 1 AS INT)), "
        "CAST(element_at(codes, CAST(mi + 1 AS INT)) + 1 AS INT)))"
    )
    cand = (
        enc.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qe",
            "ne",
            F.expr(adc_expr).alias("adc"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    short = cand.withColumn("srn", F.row_number().over(ws)).filter(
        F.col("srn") <= IVFPQ_SHORTLIST
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        short.select(
            "query_id",
            "neighbor_id",
            "adc",
            F.round(_cosine_expr("qe", "ne"), 4).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= IVFPQ_TOP_K)
        .orderBy("query_id", "rank")
    )


def _duck_ivfpq_sql() -> str:
    kl = KMEANS_ROUNDS
    pl = PQ_ROUNDS
    return f"""
WITH {_duck_kmeans_prefix()},
{_duck_pq_prefix("pq")},
probes AS (
  SELECT vec_id AS query_id, k AS cell FROM (
    SELECT vec_id, k,
      row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
    FROM d{kl}
  ) WHERE vec_id < {N_QUERY_VECTORS} AND rn <= {IVFPQ_NPROBE}
),
lut AS (
  SELECT vec_id AS query_id, m, code,
    CAST(round(d * 1000000, 0) AS BIGINT) AS d_int
  FROM pqd{pl} WHERE vec_id < {N_QUERY_VECTORS}
),
cells AS (SELECT vec_id, k AS cell FROM a{kl}),
cand AS (
  SELECT p.query_id, c.vec_id AS neighbor_id
  FROM probes p JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.query_id
),
adcs AS (
  SELECT ca.query_id, ca.neighbor_id, CAST(sum(l.d_int) AS BIGINT) AS adc
  FROM cand ca
  JOIN pqa{pl} e ON e.vec_id = ca.neighbor_id
  JOIN lut l ON l.query_id = ca.query_id AND l.m = e.m AND l.code = e.code
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, neighbor_id, adc FROM (
    SELECT query_id, neighbor_id, adc,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY adc, neighbor_id) AS srn
    FROM adcs
  ) WHERE srn <= {IVFPQ_SHORTLIST}
),
norms AS (
  SELECT vec_id, {duck_l2_sql('embedding')} AS nrm FROM embeddings
),
rer AS (
  SELECT s.query_id, s.neighbor_id, s.adc,
    round({duck_cosine_sql('q.embedding', 'c.embedding', 'nq.nrm', 'nc.nrm')},
          4) AS cosine
  FROM short s
  JOIN embeddings q ON q.vec_id = s.query_id
  JOIN embeddings c ON c.vec_id = s.neighbor_id
  JOIN norms nq ON nq.vec_id = s.query_id
  JOIN norms nc ON nc.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, adc, cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT query_id, neighbor_id, adc, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rer
) WHERE rank <= {IVFPQ_TOP_K}
ORDER BY query_id, rank
"""


ORACLE["knn_ivfpq"] = _duck_ivfpq_sql()
QUERIES["knn_ivfpq"] = knn_ivfpq


# ---------------------------------------------------------------------------
# NN-Descent k-NN graph construction (Dong, Moses & Li, WWW 2011)
# ---------------------------------------------------------------------------

NND_K = 10  # neighbors kept per node
NND_ROUNDS = 2  # refinement rounds (oracle unrolls them)
# deterministic init: v = (u + s) mod N, one ring edge per stride
NND_STRIDES = (1, 7, 13, 29, 61, 97, 181, 251, 17, 43)
NND_SAMPLE_MOD = 50  # vec_id % this == 0 nodes emitted
NND_EMIT_K = 4  # ranks emitted per sampled node (graph keeps NND_K)


def _nnd_topk(pool_cos: DataFrame) -> DataFrame:
    """Keep each node's NND_K best neighbors from a scored candidate
    pool (u, v, c): partitioned window, ties broken on neighbor id —
    deterministic on both engines because c is already 4dp-rounded."""
    w = Window.partitionBy("u").orderBy(F.desc("c"), F.col("v"))
    return (
        pool_cos.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NND_K)
    )


def knn_graph_nndescent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-nodes k-NN GRAPH construction by NN-Descent (Dong et al.,
    WWW 2011) — the offline build step behind graph-ANN serving (HNSW
    layers, UMAP/SemDeDup pipelines) and the third ANN family next to
    the LSH (`knn_lsh_*`) and quantizer (`knn_ivf`/`knn_ivfpq`)
    shelves. Where those answer "top-k for Q query vectors", this
    builds top-k for EVERY corpus vector without the O(N²) all-pairs
    join, by iterating the observation that a neighbor's neighbor is
    likely a neighbor.

    Shape per round (all relations O(N·k), never O(N²)):
      1. reverse edges, capped at k per target (the sampled R[p] of the
         paper — an unbounded hub's in-degree would otherwise square);
      2. adjacency = out-edges ∪ capped reverse edges;
      3. candidate pairs = per-node self-join of the adjacency (each
         node introduces its ≤2k friends pairwise: ≤ 4k²N/2 rows);
      4. each node keeps the k best of {old ∪ reverse ∪ candidates}
         by 4dp cosine (ties → lower neighbor id).
    Init is k deterministic modular strides (u+s mod N) — NN-Descent
    converges from ANY seeding; strides make both engines start from
    the identical graph (at cluster scale you'd seed from the LSH
    buckets instead, one map-side pass; convergence is unaffected).

    Scale story: every round is two bounded shuffles (the adjacency
    self-join on u, the top-k window on u) over an O(k²N) relation —
    the paper's empirical O(N^1.14) total cost. No global sort, no
    driver traffic except the max-id fit scalar; `localCheckpoint`
    truncates the per-round lineage (CLAUDE.md iterative rule). The
    emitted sample is presentation-only.

    Cross-engine: cosines are the ordered zip_with fold
    (`functions/vector_sql.py` twins) rounded to 4dp BEFORE ranking,
    id tie-breaks everywhere, and the final cosine gets `+ 0.0` on
    both sides (negative-zero repr rule). The DuckDB oracle unrolls
    the NND_ROUNDS iterations as CTEs and replays every keep/drop
    decision bit-for-bit.

    Recall caveat, measured not guessed: this testdata's embeddings
    are near-uniform on the sphere (same-label mean cosine 0.0016 vs
    0.0003 cross-label; exact-top-4 neighbor-of-neighbor overlap 3%),
    the worst case for NN-Descent's transitivity assumption — recall@4
    converges to ~0.54 here (k=10, 2 rounds) where the paper reports
    0.9+ on real manifold-structured corpora. The companion pytest
    pins both the recall floor and the descent-beats-init invariant
    (rounds must add recall even on uniform data)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # bounded driver fit scalar (one bigint), same contract as _pq_fit
    n = emb.agg(F.max("vec_id").alias("m")).first()["m"] + 1
    # norms precomputed ONCE per node, not per pair: the HOF folds run
    # interpreted (no codegen), so folding 64 dims three times per pool
    # row was the round's hot spot — same dot/(nu*nv) value the oracle
    # computes from its norms CTE
    node = emb.select(
        "vec_id", "embedding", _l2_norm_expr("embedding").alias("nrm")
    ).localCheckpoint()
    left = node.select(
        F.col("vec_id").alias("u"),
        F.col("embedding").alias("ue"),
        F.col("nrm").alias("nu"),
    )
    right = node.select(
        F.col("vec_id").alias("v"),
        F.col("embedding").alias("ve"),
        F.col("nrm").alias("nv"),
    )
    dot = F.expr(
        "aggregate(zip_with(ue, ve, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )

    def with_cos(pool: DataFrame) -> DataFrame:
        # inner joins enforce existence of both endpoints (non-contiguous
        # id safety) exactly like the oracle's cosine joins. Join order
        # (r13 optimization, guide §2.4): attach v FIRST, u LAST — the
        # u-join's output partitioning (hash(u)) then feeds _nnd_topk's
        # partitionBy("u") window with NO further exchange, removing one
        # full shuffle of the scored pool per round (before: u-join,
        # v-join, then a third exchange back to u for the window).
        return (
            pool.join(right, "v")
            .join(left, "u")
            .select(
                "u",
                "v",
                F.round(dot / (F.col("nu") * F.col("nv")), 4).alias("c"),
            )
        )

    def dedup_on_v(pool: DataFrame) -> DataFrame:
        # (u, v)-dedup CLUSTERED BY v (round 14, guide §2.4 "two
        # operations keyed the same way share one exchange"): a plain
        # distinct() exchanges the pool on hash(u, v) and the v-join in
        # with_cos then immediately re-exchanges it on hash(v) — two
        # full-pool shuffles per round in the no-broadcast (cluster)
        # shape. repartition("v") + dropDuplicates keys the dedup's
        # exchange by v alone (hash(v) clusters equal (u, v) rows just
        # as well), so ensureRequirements feeds the v-join with NO
        # further exchange: the round's pool shuffle spine is v → u →
        # window-on-u (shared), one exchange fewer. Same rows out —
        # dropDuplicates([u, v]) on a 2-column pool IS distinct().
        return pool.repartition("v").dropDuplicates(["u", "v"])

    init = (
        emb.select(
            F.col("vec_id").alias("u"),
            F.explode(F.array(*[F.lit(s) for s in NND_STRIDES])).alias("s"),
        )
        .select("u", ((F.col("u") + F.col("s")) % F.lit(n)).alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    init = dedup_on_v(init)
    # NOTE: unlike near_dup_clusters' label tail, the per-round pool is
    # O(4k²N) rows — corpus-sized, not tiny — so the loop keeps the
    # session shuffle width (narrowing to 8 measured 2x slower at sf0.1)
    edges = _nnd_topk(with_cos(init)).localCheckpoint()
    for _ in range(NND_ROUNDS):
        rev_w = Window.partitionBy("v").orderBy(F.desc("c"), F.col("u"))
        rev = (
            edges.withColumn("rrank", F.row_number().over(rev_w))
            .filter(F.col("rrank") <= NND_K)
            .select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # rev feeds three consumers (both self-join sides + the pool
        # union) through adj: checkpoint the tiny window result once.
        # adj itself carries NO distinct — duplicate pairs from mutual
        # edges are swallowed by the pool-level distinct, and skipping
        # it removes a whole shuffle from the round (a distinct here
        # measured strictly slower at both SFs)
        rev = rev.localCheckpoint()
        adj = edges.select("u", "v").union(rev)
        l_adj = adj.select(F.col("u").alias("p"), F.col("v").alias("x"))
        r_adj = adj.select(F.col("u").alias("p"), F.col("v").alias("y"))
        # both orientations of each introduced pair come from ONE
        # explode, not a twice-planned union of the join subtree
        cand_both = (
            l_adj.join(r_adj, "p")
            .filter(F.col("x") < F.col("y"))
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("x").alias("u"), F.col("y").alias("v")
                        ),
                        F.struct(
                            F.col("y").alias("u"), F.col("x").alias("v")
                        ),
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
        )
        # pool = edges ∪ rev ∪ candidates; edges ∪ rev IS adj
        pool = dedup_on_v(adj.union(cand_both))
        edges = _nnd_topk(with_cos(pool)).localCheckpoint()
    return (
        edges.filter(
            (F.col("u") % NND_SAMPLE_MOD == 0)
            & (F.col("rank") <= NND_EMIT_K)
        )
        .select(
            F.col("u").alias("vec_id"),
            "rank",
            F.col("v").alias("neighbor_id"),
            (F.col("c") + F.lit(0.0)).alias("cosine"),
        )
        .orderBy("vec_id", "rank")
    )


def _duck_nnd_sql() -> str:
    """Unrolled-CTE oracle: replays init strides + every NN-Descent
    round's cap/join/top-k decisions with the ordered-fold cosine."""
    cos = duck_cosine_sql("a.embedding", "b.embedding", "na.nrm", "nb.nrm")

    def cos_cte(name: str, pool: str) -> str:
        return f"""{name} AS (
  SELECT p.u, p.v, round({cos}, 4) AS c
  FROM {pool} p
  JOIN embeddings a ON a.vec_id = p.u
  JOIN embeddings b ON b.vec_id = p.v
  JOIN norms na ON na.vec_id = p.u
  JOIN norms nb ON nb.vec_id = p.v
)"""

    def topk_cte(name: str, src: str) -> str:
        return f"""{name} AS (
  SELECT u, v, c, rank FROM (
    SELECT u, v, c,
      row_number() OVER (PARTITION BY u ORDER BY c DESC, v) AS rank
    FROM {src}
  ) WHERE rank <= {NND_K}
)"""

    strides = ", ".join(str(s) for s in NND_STRIDES)
    parts = [
        f"norms AS (SELECT vec_id, {duck_l2_sql('embedding')} AS nrm FROM embeddings)",
        f"""init AS (
  SELECT DISTINCT e.vec_id AS u,
    (e.vec_id + s.s) % (SELECT max(vec_id) + 1 FROM embeddings) AS v
  FROM embeddings e CROSS JOIN (SELECT unnest([{strides}]) AS s) s
  WHERE e.vec_id <> (e.vec_id + s.s) % (SELECT max(vec_id) + 1 FROM embeddings)
)""",
        cos_cte("c0", "init"),
        topk_cte("e0", "c0"),
    ]
    for r in range(1, NND_ROUNDS + 1):
        p = r - 1
        parts += [
            f"""rev{r} AS (
  SELECT v AS u, u AS v FROM (
    SELECT u, v,
      row_number() OVER (PARTITION BY v ORDER BY c DESC, u) AS rrank
    FROM e{p}
  ) WHERE rrank <= {NND_K}
)""",
            f"""adj{r} AS (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM e{p} UNION ALL SELECT u, v FROM rev{r}
  )
)""",
            f"""cand{r} AS (
  SELECT l.v AS u, r.v AS v
  FROM adj{r} l JOIN adj{r} r ON l.u = r.u AND l.v < r.v
)""",
            f"""pool{r} AS (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM e{p} UNION ALL SELECT u, v FROM rev{r}
    UNION ALL SELECT u, v FROM cand{r}
    UNION ALL SELECT v AS u, u AS v FROM cand{r}
  )
)""",
            cos_cte(f"c{r}", f"pool{r}"),
            topk_cte(f"e{r}", f"c{r}"),
        ]
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT u AS vec_id, rank, v AS neighbor_id, (c + 0.0) AS cosine
FROM e{NND_ROUNDS}
WHERE u % {NND_SAMPLE_MOD} = 0 AND rank <= {NND_EMIT_K}
ORDER BY vec_id, rank
"""
    )


ORACLE["knn_graph_nndescent"] = _duck_nnd_sql()
QUERIES["knn_graph_nndescent"] = knn_graph_nndescent


# ---------------------------------------------------------------------------
# Power-iteration PCA: top principal component on DataFrames
# ---------------------------------------------------------------------------

PCA_PI_ROUNDS = 6  # fixed matvec rounds (oracle unrolls them)
_PI_V0 = 125000  # v0 = 1/8 per dim at 1e6 scale — exactly unit for d=64


def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finish the distributed-PCA story: ``embedding_covariance`` is the
    ONE data pass (sufficient statistics); this operator extracts the
    top principal component from the resulting d×d relation by POWER
    ITERATION run entirely as DataFrame ops — the iterative-linear-
    algebra shape (matvec = join + partial-aggregating groupBy) that
    also underlies PageRank (`operators/graph.py`) and spectral
    methods. After the one corpus pass, every round touches only the
    d² = 4096-row matrix: cluster cost is O(d²) per round REGARDLESS
    of corpus size. The vector itself is d fit scalars carried
    driver-side (the kmeans-centroid contract) and rebuilt into each
    matvec as a broadcast array-literal lookup — one partial-agg job
    per round, no joins, no checkpoints.

    Cross-engine exactness (kmeans discipline on linear algebra): the
    6dp-rounded covariance scales to exact 1e6 BIGINTs; each matvec is
    an integer sum (max |w_int| ≤ d·|C|·1e12 ≈ 2e12, BIGINT-safe);
    normalization divides by sqrt of the exact BIGINT Σw², and the
    carried vector re-rounds to 1e6 ints each round — both engines
    iterate identical integers, so the oracle's 6 unrolled CTE rounds
    reproduce every loading bit-for-bit.

    Spectrum caveat (measured): these near-isotropic embeddings have
    λ1/λ2 = 1.013, power iteration's worst case — after 6 rounds the
    Rayleigh quotient reaches ~92% of the true λ1 (alignment keeps
    climbing with rounds; real manifold data converges in 2-3). The
    pinned test asserts monotone Rayleigh ascent and the ≥90%-of-λ1
    floor, which is what fixed-round power iteration can promise
    without an eigengap."""
    cov = embedding_covariance(spark, sf_dir).filter(
        F.col("cov") != 0.0
    )
    upper = cov.select(
        F.col("dim_i").alias("i"),
        F.col("dim_j").alias("j"),
        F.round(F.col("cov") * F.lit(1000000.0), 0).cast("long").alias("c"),
    )
    full = upper.unionByName(
        upper.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c"
        )
    ).localCheckpoint()
    # the vector is d fit scalars: carry it DRIVER-side like the kmeans
    # centroids and rebuild each matvec as a map-side array lookup — one
    # tiny partial-agg job per round (the checkpointed-relation loop
    # measured 5.1 s at sf0.1 on pure job-barrier overhead; this form
    # runs ~2 s, all of it the covariance pass)
    import math as _math

    from ..functions.rounding import round_half_up

    v6 = [_PI_V0] * EMB_DIM
    n2 = None
    for _ in range(PCA_PI_ROUNDS):
        arr = "array({})".format(", ".join(f"{x}L" for x in v6))
        w_rows = (
            full.groupBy("i")
            .agg(
                F.sum(
                    F.col("c") * F.expr(f"element_at({arr}, j + 1)")
                ).alias("w_int")
            )
            .collect()
        )
        w6 = {r["i"]: int(round_half_up(r["w_int"] / 1000000.0, 0))
              for r in w_rows}
        n2 = sum(x * x for x in w6.values())
        # engine-identical update: sqrt is IEEE-correctly-rounded on
        # every platform, and round_half_up replays engine round()
        v6 = [
            int(round_half_up((w6.get(d, 0) * 1000000.0)
                              / _math.sqrt(n2), 0))
            for d in range(EMB_DIM)
        ]
    lam = round_half_up(_math.sqrt(n2) / 1000000.0, 6)
    out = spark.createDataFrame(
        [(d, v6[d] / 1000000.0, lam) for d in range(EMB_DIM)],
        "dim_idx INT, loading DOUBLE, eigenvalue_est DOUBLE",
    )
    return out.orderBy("dim_idx")


def _duck_pca_pi_sql() -> str:
    parts = [
        f"""dims AS (SELECT i FROM generate_series(1, {EMB_DIM}) t(i))""",
        """pp AS MATERIALIZED (
  SELECT d1.i - 1 AS dim_i, d2.i - 1 AS dim_j,
    sum(CAST(embedding[d1.i] AS DOUBLE) * CAST(embedding[d2.i] AS DOUBLE))
      AS spp
  FROM embeddings, dims d1, dims d2
  WHERE d2.i >= d1.i
  GROUP BY 1, 2
)""",
        """sums AS MATERIALIZED (
  SELECT d.i - 1 AS dim, sum(CAST(embedding[d.i] AS DOUBLE)) AS sx
  FROM embeddings, dims d
  GROUP BY 1
)""",
        "nn AS (SELECT count(*) AS n FROM embeddings)",
        """covu AS MATERIALIZED (
  SELECT p.dim_i, p.dim_j,
    round((p.spp - s1.sx * s2.sx / nn.n) / (nn.n - 1), 6) + 0.0 AS cov
  FROM pp p
  JOIN sums s1 ON s1.dim = p.dim_i
  JOIN sums s2 ON s2.dim = p.dim_j
  CROSS JOIN nn
)""",
        """cint AS MATERIALIZED (
  SELECT i, j, c FROM (
    SELECT dim_i AS i, dim_j AS j,
      CAST(round(cov * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS c
    FROM covu WHERE cov <> 0.0
    UNION ALL
    SELECT dim_j AS i, dim_i AS j,
      CAST(round(cov * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS c
    FROM covu WHERE cov <> 0.0 AND dim_i <> dim_j
  )
)""",
        f"v0 AS (SELECT i - 1 AS dim, CAST({_PI_V0} AS BIGINT) AS v6 "
        "FROM generate_series(1, 64) t(i))",
    ]
    for r in range(1, PCA_PI_ROUNDS + 1):
        p = r - 1
        parts.append(f"""w{r} AS MATERIALIZED (
  SELECT m.i AS dim,
    CAST(round(CAST(sum(m.c * v.v6) AS BIGINT)
               / CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS w6
  FROM cint m JOIN v{p} v ON v.dim = m.j
  GROUP BY m.i
)""")
        parts.append(
            f"n{r} AS MATERIALIZED (SELECT CAST(sum(w6 * w6) AS BIGINT) "
            f"AS n2 FROM w{r})"
        )
        parts.append(f"""v{r} AS MATERIALIZED (
  SELECT dim,
    CAST(round((w6 * CAST(1000000.0 AS DOUBLE)) / sqrt(n.n2), 0)
         AS BIGINT) AS v6
  FROM w{r} CROSS JOIN n{r} n
)""")
    last = PCA_PI_ROUNDS
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT v.dim AS dim_idx,
  v.v6 / CAST(1000000.0 AS DOUBLE) AS loading,
  round(sqrt(n.n2) / CAST(1000000.0 AS DOUBLE), 6) AS eigenvalue_est
FROM v{last} v CROSS JOIN n{last} n
ORDER BY dim_idx
"""
    )


ORACLE["pca_power_iteration"] = _duck_pca_pi_sql()
QUERIES["pca_power_iteration"] = pca_power_iteration


# ---------------------------------------------------------------------------
# full corpus-clean funnel with the semantic stage (VERDICT r6 item 5)
# ---------------------------------------------------------------------------


def corpus_semantic_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-clean funnel with the SEMANTIC stage included — the
    full three-dedup pipeline a production training-data build runs
    (reference analogue: the end-to-end clean a user composes from the
    stand-alone stages; VERDICT r6 item 5):

      raw docs → exact dedup (min-id canonical per fingerprint)
               → near-dup collapse (MinHash-LSH clusters; best-quality
                 member survives)
               → SEMANTIC collapse (SemDeDup embedding clusters via
                 ``_semantic_clusters``; best-quality REMAINING member
                 survives — docs already dropped upstream can't win a
                 semantic cluster)
               → quality gate (≥ 0.5) → token accounting.

    One row out with the doc count at every funnel stage plus the
    surviving token budget. Every stage reuses the exact building
    block its stand-alone operator uses (``near_dup_clusters``,
    ``_semantic_clusters``, ``quality_score_col``), so stage semantics
    are individually oracle-checked elsewhere and CANNOT drift.

    Scale shape: one corpus scan computes fingerprint/tokens/quality;
    both cluster-label relations hold only docs WITH dup pairs
    (dup-volume-bounded) and join size-driven; the MinHash survivor
    rank re-uses the singleton-
    partition COALESCE trick (no giant NULL partition). The ranked
    relation feeds two branches (stage-2 counters + the semantic
    stage), so it is localCheckpointed once instead of re-mining
    MinHash pairs per branch (CLAUDE.md two-consumer rule). The three
    1-row stage summaries cross-join at the end — intentional BNLJ."""
    from .text import quality_score_col

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split(F.trim(F.col("text")), r"\s+")
    )
    w_fp = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text")))))
    base = docs.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        quality_score_col().alias("quality"),
        (F.col("doc_id") == F.min("doc_id").over(w_fp)).alias("keep"),
    )
    kept = base.filter("keep")
    from .dedup import _near_dup_cluster_labels

    # unordered labels (the presentation sort would be destroyed by the
    # window anyway) and NO broadcast hint — the label relation is
    # dup-volume-bounded (one row per doc that appears in a near-dup
    # edge), not known tiny a priori: the ADVICE r8 size-driven class,
    # same rationale as the dedup.py label-join consumers
    mh = _near_dup_cluster_labels(spark, sf_dir)
    lab = kept.join(mh, "doc_id", "left")
    w_cl = Window.partitionBy(
        F.coalesce(F.col("cluster_id"), -F.col("doc_id") - 1)
    ).orderBy(F.desc("quality"), "doc_id")
    rk = lab.withColumn("rn", F.row_number().over(w_cl)).localCheckpoint()
    stage2 = rk.agg(
        F.count(F.lit(1)).alias("n_canonical"),
        F.sum((F.col("rn") > 1).cast("long")).alias("n_neardup_dropped"),
    )
    surv1 = rk.filter(F.col("rn") == 1).select("doc_id", "n_toks", "quality")
    sem = _semantic_clusters(spark, sf_dir).withColumnRenamed(
        "cluster_id", "sem_cluster"
    )
    lab2 = surv1.join(sem, "doc_id", "left")  # dup-volume-bounded: size-driven
    w_sem = Window.partitionBy(
        F.coalesce(F.col("sem_cluster"), -F.col("doc_id") - 1)
    ).orderBy(F.desc("quality"), "doc_id")
    rk2 = lab2.withColumn("rn2", F.row_number().over(w_sem))
    clean = (F.col("rn2") == 1) & (F.col("quality") >= 0.5)
    stage3 = rk2.agg(
        F.sum((F.col("rn2") > 1).cast("long")).alias("n_semantic_dropped"),
        F.sum(clean.cast("long")).alias("n_final_clean"),
        F.sum(F.when(clean, F.col("n_toks")).otherwise(0)).alias(
            "clean_tokens"
        ),
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        F.broadcast(n_docs)
        .join(F.broadcast(stage2))
        .join(F.broadcast(stage3))
        .select(
            "n_docs",
            "n_canonical",
            "n_neardup_dropped",
            "n_semantic_dropped",
            "n_final_clean",
            "clean_tokens",
        )
    )


def _duck_semantic_pipeline_sql() -> str:
    from .dedup import JACCARD_MINHASH_THRESHOLD, _duck_minhash_ctes
    from .text import _DUCK_TOKS, duck_quality_ctes

    return f"""
WITH RECURSIVE {_duck_minhash_ctes()},
p AS (
  SELECT doc_id_1, doc_id_2 FROM verified
  WHERE jaccard >= {JACCARD_MINHASH_THRESHOLD}
),
edges AS (
  SELECT doc_id_1 AS a, doc_id_2 AS b FROM p
  UNION ALL
  SELECT doc_id_2, doc_id_1 FROM p
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
mh_clusters AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
  FROM reach GROUP BY a
),
{_duck_semantic_pairs_ctes(long="vlong")},
sp AS (
  SELECT DISTINCT vec_id_a AS a, vec_id_b AS b FROM pairs
  WHERE cosine >= CAST({COSINE_DUP_THRESHOLD} AS DOUBLE)
),
sedges AS (
  SELECT a, b FROM sp
  UNION ALL
  SELECT b, a FROM sp
),
sreach(a, b) AS (
  SELECT a, b FROM sedges
  UNION
  SELECT r.a, e.b FROM sreach r JOIN sedges e ON r.b = e.a
),
sem_clusters AS (
  SELECT a AS doc_id, least(a, min(b)) AS sem_cluster
  FROM sreach GROUP BY a
),
{duck_quality_ctes(t="qt", s="qs", q="qq")},
base AS (
  SELECT doc_id, len({_DUCK_TOKS}) AS n_toks,
    md5(lower(trim(text))) AS fp
  FROM documents
),
base2 AS (
  SELECT doc_id, n_toks,
    doc_id = min(doc_id) OVER (PARTITION BY fp) AS keep
  FROM base
),
kept AS (
  SELECT b.doc_id, b.n_toks, qq.quality
  FROM base2 b JOIN qq ON qq.doc_id = b.doc_id
  WHERE b.keep
),
lab AS (
  SELECT k.doc_id, k.n_toks, k.quality, c.cluster_id
  FROM kept k LEFT JOIN mh_clusters c ON c.doc_id = k.doc_id
),
rk AS (
  SELECT doc_id, n_toks, quality,
    row_number() OVER (
      PARTITION BY COALESCE(cluster_id, -doc_id - 1)
      ORDER BY quality DESC, doc_id) AS rn
  FROM lab
),
surv1 AS (SELECT doc_id, n_toks, quality FROM rk WHERE rn = 1),
lab2 AS (
  SELECT s.doc_id, s.n_toks, s.quality, sc.sem_cluster
  FROM surv1 s LEFT JOIN sem_clusters sc ON sc.doc_id = s.doc_id
),
rk2 AS (
  SELECT doc_id, n_toks, quality,
    row_number() OVER (
      PARTITION BY COALESCE(sem_cluster, -doc_id - 1)
      ORDER BY quality DESC, doc_id) AS rn2
  FROM lab2
)
SELECT
  (SELECT count(*) FROM documents) AS n_docs,
  (SELECT count(*) FROM rk) AS n_canonical,
  (SELECT CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
     FROM rk) AS n_neardup_dropped,
  CAST(sum(CASE WHEN rn2 > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_semantic_dropped,
  CAST(sum(CASE WHEN rn2 = 1 AND quality >= 0.5 THEN 1 ELSE 0 END)
    AS BIGINT) AS n_final_clean,
  CAST(sum(CASE WHEN rn2 = 1 AND quality >= 0.5 THEN n_toks ELSE 0 END)
    AS BIGINT) AS clean_tokens
FROM rk2
"""


ORACLE["corpus_semantic_pipeline"] = _duck_semantic_pipeline_sql()
QUERIES["corpus_semantic_pipeline"] = corpus_semantic_pipeline


# ---------------------------------------------------------------------------
# Matryoshka truncation audit: does a prefix of the embedding rank like
# the full vector?
# ---------------------------------------------------------------------------

MRL_PREFIX_DIM = 16  # audit the first 16 of 64 dims (MRL-style prefix)


def matryoshka_dim_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation audit (Kusupati et al.): for each
    query vector, compare the top-{TOP_K} cosine neighbor set under the
    FULL embedding vs under its first {MRL_PREFIX_DIM} dims — the
    measurement a serving team runs before switching ANN search to a
    cheaper truncated index (recall@k of the prefix ranking, plus how
    deep the full-rank winners sink in the truncated ranking).

    Scale shape: ONE broadcast of the tiny query set; the corpus
    streams through map-side computing BOTH cosines per pair in the
    same pass (the truncated dot is a prefix slice — no second scan);
    the two rankings window over the SAME query_id partitioning, so
    one shuffle serves both row_numbers and the per-query rollup.

    Cross-engine: both cosines are the house ordered-fold expressions
    rounded 4dp BEFORE ranking (ties broken by neighbor_id — total
    order); overlap counts are exact ints and recall is one int/const
    division."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.expr(f"slice(embedding, 1, {MRL_PREFIX_DIM})").alias("qp"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.expr(f"slice(embedding, 1, {MRL_PREFIX_DIM})").alias("np"),
    )
    pairs = corpus.join(F.broadcast(queries)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(_cosine_expr("qe", "ne"), 4).alias("cos_full"),
        F.round(_cosine_expr("qp", "np"), 4).alias("cos_prefix"),
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("cos_full"), F.col("neighbor_id")
    )
    w_pre = Window.partitionBy("query_id").orderBy(
        F.desc("cos_prefix"), F.col("neighbor_id")
    )
    ranked = scored.select(
        "query_id",
        F.row_number().over(w_full).alias("r_full"),
        F.row_number().over(w_pre).alias("r_prefix"),
    )
    hit = (F.col("r_full") <= TOP_K) & (F.col("r_prefix") <= TOP_K)
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(hit.cast("long")).alias("n_overlap"),
            F.max(
                F.when(F.col("r_full") <= TOP_K, F.col("r_prefix"))
            ).alias("worst_prefix_rank"),
        )
        .select(
            "query_id",
            "n_overlap",
            F.round(
                F.col("n_overlap") / F.lit(float(TOP_K)), 4
            ).alias("recall_at_k"),
            "worst_prefix_rank",
        )
        .orderBy("query_id")
    )


def _duck_matryoshka_sql() -> str:
    pre = f"embedding[1:{MRL_PREFIX_DIM}]"
    return f"""
WITH norms AS (
  SELECT vec_id, {duck_l2_sql('embedding')} AS nrm,
    {duck_l2_sql(pre)} AS nrm_p
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round({duck_cosine_sql('q.embedding', 'c.embedding', 'nq.nrm', 'nc.nrm')}, 4)
      AS cos_full,
    round({duck_cosine_sql(f'q.{pre}', f'c.{pre}', 'nq.nrm_p', 'nc.nrm_p')}, 4)
      AS cos_prefix
  FROM embeddings q
  JOIN embeddings c ON q.vec_id < {N_QUERY_VECTORS} AND q.vec_id <> c.vec_id
  JOIN norms nq ON nq.vec_id = q.vec_id
  JOIN norms nc ON nc.vec_id = c.vec_id
),
ranked AS (
  SELECT query_id,
    row_number() OVER (PARTITION BY query_id
      ORDER BY cos_full DESC, neighbor_id) AS r_full,
    row_number() OVER (PARTITION BY query_id
      ORDER BY cos_prefix DESC, neighbor_id) AS r_prefix
  FROM scored
)
SELECT query_id,
  CAST(sum(CASE WHEN r_full <= {TOP_K} AND r_prefix <= {TOP_K}
    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
  round(CAST(sum(CASE WHEN r_full <= {TOP_K} AND r_prefix <= {TOP_K}
    THEN 1 ELSE 0 END) AS BIGINT)
    / CAST({TOP_K} AS DOUBLE), 4) AS recall_at_k,
  CAST(max(CASE WHEN r_full <= {TOP_K} THEN r_prefix END) AS INT)
    AS worst_prefix_rank
FROM ranked
GROUP BY query_id
ORDER BY query_id
"""


ORACLE["matryoshka_dim_audit"] = _duck_matryoshka_sql()
QUERIES["matryoshka_dim_audit"] = matryoshka_dim_audit


# ---------------------------------------------------------------------------
# MIPS norm-bound pruning audit — how far must a norm-ordered scan descend?
# ---------------------------------------------------------------------------

MIPS_K = 10


def mips_norm_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product-search pruning audit: for each query, the
    exact top-``MIPS_K`` inner products, the k-th best score, and how
    many corpus vectors the Cauchy-Schwarz bound ``dot(q,x) ≤ |q||x|``
    can NOT rule out at that threshold. This measures the effective
    scan depth of the classic norm-ordered MIPS strategy (scan corpus
    by descending norm, stop when |q|·|x| drops below the running k-th
    best — LEMP/FEXIPRO-style serving): ``prune_rate`` is the fraction
    of the corpus a norm-indexed scan skips at the FINAL threshold, an
    upper bound on what any online schedule achieves.

    Plan: corpus × broadcast(query set) map-side pairs (knn_brute_force
    shape); the rank and threshold attach with TWO windows over the
    SAME query_id partitioning (no extra shuffle); one fold per query.
    Cross-engine: dot/norm are ordered folds (bit-identical), the
    threshold is the 4dp-rounded k-th dot, counts are exact."""
    from ..functions.vector_sql import duck_dot_sql  # noqa: F401  (oracle twin)

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
    )
    dot = F.expr(
        "aggregate(zip_with(qe, ne, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    pairs = (
        corpus.join(F.broadcast(queries))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot, 4).alias("dot4"),
            (_l2_norm_expr("qe") * _l2_norm_expr("ne")).alias("bound"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("dot4"), F.col("neighbor_id")
    )
    w_full = Window.partitionBy("query_id")
    aug = pairs.withColumn("rank", F.row_number().over(w_rank)).withColumn(
        "dk", F.max(F.when(F.col("rank") == MIPS_K, F.col("dot4"))).over(w_full)
    )
    return (
        aug.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max("dk").alias("kth_dot"),
            # when dk is NULL (fewer than K candidates) the comparison is
            # NULL — count it as 0 to match the oracle's CASE...ELSE 0
            F.sum(
                F.when(F.col("bound") >= F.col("dk"), 1).otherwise(0)
            ).alias("n_unprunable"),
            F.round(
                F.lit(1.0)
                - F.sum(
                    F.when(F.col("bound") >= F.col("dk"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("prune_rate"),
        )
        .orderBy("query_id")
    )


def _duck_mips_sql() -> str:
    from ..functions.vector_sql import duck_dot_sql

    return f"""
WITH dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round({duck_dot_sql('q.embedding', 'c.embedding')}, 4) AS dot4,
    {duck_l2_sql('q.embedding')} * {duck_l2_sql('c.embedding')} AS bound
  FROM embeddings q
  JOIN embeddings c ON q.vec_id < {N_QUERY_VECTORS} AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY dot4 DESC, neighbor_id) AS rank
  FROM dots
),
aug AS (
  SELECT *, max(CASE WHEN rank = {MIPS_K} THEN dot4 END)
    OVER (PARTITION BY query_id) AS dk
  FROM ranked
)
SELECT query_id,
  CAST(count(*) AS BIGINT) AS n_candidates,
  max(dk) AS kth_dot,
  CAST(sum(CASE WHEN bound >= dk THEN 1 ELSE 0 END) AS BIGINT)
    AS n_unprunable,
  round(CAST(1 AS DOUBLE)
    - CAST(sum(CASE WHEN bound >= dk THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE), 4) AS prune_rate
FROM aug
GROUP BY query_id
ORDER BY query_id
"""


ORACLE["mips_norm_pruning_audit"] = _duck_mips_sql()
QUERIES["mips_norm_pruning_audit"] = mips_norm_pruning_audit


# ---------------------------------------------------------------------------
# nDCG evaluation of the LSH retriever against brute-force ground truth
# ---------------------------------------------------------------------------

NDCG_K = 5
# 1/log2(i+1) position discounts as FIXED 8dp constants injected into both
# engines — keeps libm log2 out of the value hash entirely
_NDCG_DISC8 = {}


def _ndcg_disc8() -> dict[int, int]:
    if not _NDCG_DISC8:
        import math

        from ..functions.rounding import round_half_up

        for i in range(1, NDCG_K + 1):
            _NDCG_DISC8[i] = int(
                round_half_up(1.0 / math.log2(i + 1), 8) * 1e8
            )
    return _NDCG_DISC8


def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the bucketed sign-LSH retriever
    (``knn_lsh_bucketed``) against exact brute-force ground truth:
    per query, recall@{NDCG_K} and nDCG@{NDCG_K} with graded relevance
    = max(cosine, 0) — the IR-standard readout (recall says WHETHER the
    right neighbors came back; nDCG says whether they came back IN THE
    RIGHT ORDER, position-discounted).

    Cross-engine exactness: cosines are 4dp-rounded (→ exact 1e4 ints),
    position discounts are fixed 8dp integer constants (libm log2 never
    runs in-query), so every DCG is an exact BIGINT fold ≤ 5·1e12 and
    the single nDCG division is deterministic. Scale: both candidate
    scans are the existing broadcast-query map-side passes; everything
    downstream is |queries|×k rows."""
    disc = _ndcg_disc8()
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _bucket_expr_spark()
    )
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qb"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("bucket").alias("nb"),
    )
    cos4 = F.round(_cosine_expr("qe", "ne"), 4)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    disc_col = F.expr(
        "CASE rank "
        + " ".join(f"WHEN {i} THEN {v}L" for i, v in disc.items())
        + " END"
    )
    rel4 = F.greatest(F.round(F.col("cosine") * 10000, 0), F.lit(0.0)).cast(
        "long"
    )

    def _topk(pairs):
        return (
            pairs.select("query_id", "neighbor_id", cos4.alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= NDCG_K)
            .select(
                "query_id",
                "neighbor_id",
                (rel4 * disc_col).alias("gain"),
            )
        )

    # r13 optimization: brute and lsh each feed TWO consumers (their
    # own DCG aggregate + the recall intersection) — unpersisted, each
    # consumer re-ran the corpus×queries candidate pass (8 embeddings
    # scans in the before-plan). Persisting the two |queries|×k top-k
    # lists brings it to the documented two candidate scans.
    brute = _topk(
        corpus.join(F.broadcast(queries)).filter(
            F.col("query_id") != F.col("neighbor_id")
        )
    ).persist()
    lsh = _topk(
        corpus.join(F.broadcast(queries), F.col("qb") == F.col("nb")).filter(
            F.col("query_id") != F.col("neighbor_id")
        )
    ).persist()
    idcg = brute.groupBy("query_id").agg(
        F.sum("gain").alias("idcg_i"),
        F.count(F.lit(1)).alias("n_ideal"),
    )
    dcg = lsh.groupBy("query_id").agg(
        F.sum("gain").alias("dcg_i"), F.count(F.lit(1)).alias("n_retrieved")
    )
    hits = (
        lsh.select("query_id", "neighbor_id")
        .join(brute.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        idcg.join(dcg, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_retrieved", F.lit(0)).alias("n_retrieved"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_ideal"),
                4,
            ).alias("recall_at_k"),
            F.round(F.coalesce(F.col("dcg_i"), F.lit(0)) / 1e12, 4).alias(
                "dcg"
            ),
            F.round(F.col("idcg_i") / 1e12, 4).alias("idcg"),
            (
                F.when(
                    F.col("idcg_i") > 0,
                    F.round(
                        F.coalesce(F.col("dcg_i"), F.lit(0)).cast("double")
                        / F.col("idcg_i"),
                        4,
                    ),
                )
                + F.lit(0.0)
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )


def _duck_ndcg_sql() -> str:
    disc = _ndcg_disc8()
    disc_case = (
        "CASE rank "
        + " ".join(f"WHEN {i} THEN {v}" for i, v in disc.items())
        + " END"
    )
    return f"""
WITH {_DUCK_NORM_DOT.lstrip()},
buckets AS (
  SELECT vec_id, {_duck_bucket_expr('embeddings')} AS bucket FROM embeddings
),
brute AS (
  SELECT query_id, neighbor_id,
    CAST(greatest(round(cosine * 10000, 0), 0.0) AS BIGINT)
      * ({disc_case}) AS gain
  FROM (
    SELECT query_id, neighbor_id, cosine,
      row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id) AS rank
    FROM cosines
  ) WHERE rank <= {NDCG_K}
),
lsh AS (
  SELECT query_id, neighbor_id,
    CAST(greatest(round(cosine * 10000, 0), 0.0) AS BIGINT)
      * ({disc_case}) AS gain
  FROM (
    SELECT c.query_id, c.neighbor_id, c.cosine,
      row_number() OVER (PARTITION BY c.query_id
        ORDER BY c.cosine DESC, c.neighbor_id) AS rank
    FROM cosines c
    JOIN buckets bq ON bq.vec_id = c.query_id
    JOIN buckets bn ON bn.vec_id = c.neighbor_id AND bn.bucket = bq.bucket
  ) WHERE rank <= {NDCG_K}
),
idcg AS (
  SELECT query_id, CAST(sum(gain) AS BIGINT) AS idcg_i,
    CAST(count(*) AS BIGINT) AS n_ideal
  FROM brute GROUP BY 1
),
dcg AS (
  SELECT query_id, CAST(sum(gain) AS BIGINT) AS dcg_i,
    CAST(count(*) AS BIGINT) AS n_retrieved
  FROM lsh GROUP BY 1
),
hits AS (
  SELECT l.query_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM lsh l JOIN brute b
    ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
  GROUP BY 1
)
SELECT i.query_id,
  CAST(coalesce(d.n_retrieved, 0) AS BIGINT) AS n_retrieved,
  round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / i.n_ideal, 4) AS recall_at_k,
  round(CAST(coalesce(d.dcg_i, 0) AS DOUBLE) / 1e12, 4) AS dcg,
  round(CAST(i.idcg_i AS DOUBLE) / 1e12, 4) AS idcg,
  round(CASE WHEN i.idcg_i > 0 THEN
    CAST(coalesce(d.dcg_i, 0) AS DOUBLE) / i.idcg_i END, 4) + 0.0 AS ndcg
FROM idcg i
LEFT JOIN dcg d ON d.query_id = i.query_id
LEFT JOIN hits h ON h.query_id = i.query_id
ORDER BY i.query_id
"""


ORACLE["ndcg_retrieval_eval"] = _duck_ndcg_sql()
QUERIES["ndcg_retrieval_eval"] = ndcg_retrieval_eval


# ---------------------------------------------------------------------------
# semantic-dedup threshold sweep — the knob-tuning readout
# ---------------------------------------------------------------------------

SEM_SWEEP_THRESHOLDS = (0.4, 0.5, 0.6, 0.7)


def semantic_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sweep over the SemDeDup pair relation — the companion
    of ``minhash_band_tuning`` for the EMBEDDING dedup family: before
    committing a 100 TB run to one cosine cutoff, the pipeline reads
    how pair volume and corpus reduction move across candidate
    thresholds (all ≥ the mining floor COSINE_DUP_THRESHOLD, so one
    mining pass serves every sweep point). Per threshold: surviving
    pair count, documents that would be flagged as dups (per-doc MAX
    pair cosine ≥ t — each doc counted once however many partners it
    has), and the corpus-reduction upper bound in exact basis points.

    Plan: the shared ``_semantic_pairs`` mining runs ONCE; the sweep is
    one conditional-sum aggregate over the pair rows plus one over the
    per-doc max relation (two 1-row relations, cross-joined and
    unpivoted — broadcast-trivial at any scale). Determinism: cosines
    are the family's 4dp ordered-fold values; thresholds are identical
    decimal literals CAST to DOUBLE on both engines; counts are exact
    BIGINTs and the reduction uses the integer-position bp round."""
    # the pair relation feeds THREE branches (the pair agg and both
    # per-doc union arms) — localCheckpoint the mining once or the
    # quadratic subtree is planned (and potentially executed) per branch
    pairs = _semantic_pairs(spark, sf_dir).localCheckpoint()
    per_doc = (
        pairs.select(F.col("vec_id_a").alias("vec_id"), "cosine")
        .unionByName(
            pairs.select(F.col("vec_id_b").alias("vec_id"), "cosine")
        )
        .groupBy("vec_id")
        .agg(F.max("cosine").alias("max_cos"))
    )
    p_aggs, d_aggs = [], []
    for i, t in enumerate(SEM_SWEEP_THRESHOLDS):
        lit = F.expr(f"CAST({t} AS DOUBLE)")
        p_aggs.append(
            F.sum((F.col("cosine") >= lit).cast("long")).alias(f"np{i}")
        )
        d_aggs.append(
            F.sum((F.col("max_cos") >= lit).cast("long")).alias(f"nd{i}")
        )
    pa = pairs.agg(*p_aggs)
    da = per_doc.agg(*d_aggs)
    n_total = load_table(spark, sf_dir, "embeddings").count()
    stack_args = ", ".join(
        f"CAST({t} AS DOUBLE), np{i}, nd{i}"
        for i, t in enumerate(SEM_SWEEP_THRESHOLDS)
    )
    return (
        pa.join(da)
        .selectExpr(
            f"stack({len(SEM_SWEEP_THRESHOLDS)}, {stack_args}) AS "
            "(threshold, n_pairs, n_dup_docs)"
        )
        .select(
            "threshold",
            "n_pairs",
            "n_dup_docs",
            (
                F.round(
                    F.col("n_dup_docs").cast("double")
                    / F.lit(float(n_total))
                    * 10000.0,
                    0,
                )
            ).alias("reduction_bp"),
        )
        .orderBy("threshold")
    )


def _duck_sweep_sql() -> str:
    p_cols = ",\n    ".join(
        f"CAST(sum(CASE WHEN cosine >= CAST({t} AS DOUBLE) THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS np{i}"
        for i, t in enumerate(SEM_SWEEP_THRESHOLDS)
    )
    d_cols = ",\n    ".join(
        f"CAST(sum(CASE WHEN max_cos >= CAST({t} AS DOUBLE) THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS nd{i}"
        for i, t in enumerate(SEM_SWEEP_THRESHOLDS)
    )
    arms = "\n  UNION ALL\n  ".join(
        f"SELECT CAST({t} AS DOUBLE) AS threshold, np{i} AS n_pairs, "
        f"nd{i} AS n_dup_docs FROM pa CROSS JOIN da"
        for i, t in enumerate(SEM_SWEEP_THRESHOLDS)
    )
    return f"""
WITH {_duck_semantic_pairs_ctes()},
-- vp feeds pa and BOTH per_doc union arms; pa/da feed every threshold
-- arm: MATERIALIZED or DuckDB re-evaluates the whole SemDeDup mining
-- chain per consumer (the knn_ivf `ad` lesson)
vp AS MATERIALIZED (
  SELECT vec_id_a, vec_id_b, min(cosine) AS cosine
  FROM pairs
  WHERE cosine >= CAST({COSINE_DUP_THRESHOLD} AS DOUBLE)
  GROUP BY 1, 2
),
per_doc AS (
  SELECT vec_id, max(cosine) AS max_cos FROM (
    SELECT vec_id_a AS vec_id, cosine FROM vp
    UNION ALL
    SELECT vec_id_b, cosine FROM vp
  ) GROUP BY 1
),
pa AS MATERIALIZED (
  SELECT {p_cols} FROM vp
),
da AS MATERIALIZED (
  SELECT {d_cols} FROM per_doc
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
SELECT s.threshold, s.n_pairs, s.n_dup_docs,
  round(CAST(s.n_dup_docs AS DOUBLE) / CAST(t.n AS DOUBLE) * 10000.0, 0)
    AS reduction_bp
FROM (
  {arms}
) s CROSS JOIN tot t
ORDER BY s.threshold
"""


ORACLE["semantic_threshold_sweep"] = _duck_sweep_sql()
QUERIES["semantic_threshold_sweep"] = semantic_threshold_sweep
