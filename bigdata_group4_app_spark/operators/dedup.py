"""Deduplication operators over ``documents`` / ``embeddings`` — the core
LLM-training-data pipeline surface (BASELINE.json north_star).

Five families, each a genuinely different scale strategy:

  * **exact** — md5 hash-groupBy. One shuffle on a 128-bit key; at 100 TB
    the key is uniform so no skew.
  * **MinHash + LSH** — word-5-gram shingles → k=8 md5-min signatures →
    band-bucket join (r=1 banding: any shared minhash ⇒ candidate) →
    exact-Jaccard verification of candidates only. The shuffle volume is
    O(docs·k), never O(docs²); the quadratic step touches only bucket
    collisions. Minhashes are md5-string minima, so Spark and the DuckDB
    oracle compute IDENTICAL signatures (no engine-specific hash).
  * **SimHash** — 24-bit per-token-hash majority signature; equal-signature
    bucket join. Token hashes are the first 8 md5 hex chars as an int —
    again engine-neutral.
  * **n-gram Jaccard** — exact baseline: docs sharing >=1 shingle,
    set-Jaccard >= threshold. Quadratic only within shingle collisions.
  * **embedding cosine** — near-dup pairs by vector similarity (see also
    operators/similarity.py for the top-k search form).

Jaccard arithmetic is integer-count division — bit-identical across
engines; no FP tolerance needed anywhere except cosine (rounded 4dp).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.iterative import checkpoint_with_metrics, loop_width
from ..functions.hashing import (
    duck_md5_int,
    duck_md5_int60,
    duck_md5_int60b,
    md5_int60_sql,
    md5_int60b_sql,
    md5_int_sql,
)
from ..sources.registry import load_table

SHINGLE_N = 5  # word n-gram size; 5 keeps blocking selective on small vocabs
MINHASH_K = 8  # signature length (r=1, b=8 banding)
# Universal-hash family for the K minhash permutations: each shingle is
# md5-hashed ONCE to a 32-bit base, then h_s = (A_s*base + B_s) mod P —
# 8× fewer md5 calls than hashing per-seed, and the arithmetic is exact in
# both engines (A < 2^31, base < 2^32 → product < 2^63, no overflow).
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
_MH_A = [
    1610612741, 805306457, 402653189, 201326611,
    100663319, 50331653, 25165843, 12582917,
]
_MH_B = [7, 97, 1009, 10007, 100003, 1000003, 10000019, 100000007]
JACCARD_MINHASH_THRESHOLD = 0.8
JACCARD_NGRAM_THRESHOLD = 0.6
SIMHASH_BITS = 24
# calibrated to the synthetic embeddings (random-ish vectors: max pairwise
# cosine ≈ 0.51 at sf0.01) so the operator returns a non-degenerate pair set;
# a real near-dup corpus would use ~0.95
COSINE_DUP_THRESHOLD = 0.4


# ---------------------------------------------------------------------------
# shared shingle relation
# ---------------------------------------------------------------------------


def _shingles(
    spark: SparkSession, sf_dir: str, n: int = SHINGLE_N
) -> DataFrame:
    """Distinct HASHED shingles: (doc_id, h) with h the 60-bit md5 int of
    the 5-token shingle string. Hashing before any shuffle turns ~40-byte
    string join keys into 8-byte longs — at corpus scale the shingle
    relation is the dominant shuffle, so this is a direct 3-5× cut in
    shuffle bytes. 60 bits keeps collision odds negligible (~1e-7 at 10⁸
    distinct shingles); the DuckDB twin hashes identically so the engines
    see the same sets.

    Dedup happens MAP-SIDE: hash inside the ``transform`` lambda, then
    ``array_distinct`` per doc before the explode. Within-doc distinct ≡
    global distinct on (doc_id, h), so the `.distinct()` shuffle this
    relation used to pay disappears entirely — measured 30% off the whole
    MinHash pipeline at sf0.1 (1.95s → 1.35s) despite the lambda running
    interpreted, because a full shuffle of the corpus's largest relation
    buys more than codegen on a linear pass. ``array_distinct`` must run
    on the HASHES, not the shingle strings: two distinct strings that
    collide in 60 bits must still collapse to one (doc_id, h) row, else
    downstream set sizes would double-count.

    ``n`` defaults to the MinHash family's SHINGLE_N; decontamination
    (``contamination_ngram_overlap``) passes its own gram size."""
    return _shingles_from(load_table(spark, sf_dir, "documents"), n)


def _shingles_from(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """:func:`_shingles` over an arbitrary (doc_id, text, ...) relation —
    the streaming MinHash sink shingles micro-batch DataFrames through
    THIS same definition (shared-helper rule: the stream and the batch
    operator must hash identical sets)."""
    df = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    gram = ", ".join(f"toks[i+{j}]" for j in range(n))
    shingle_hash = md5_int60_sql(f"concat_ws(' ', {gram})")
    hashed_arr = (
        f"array_distinct(CASE WHEN size(toks) >= {n} THEN "
        f"transform(sequence(0, size(toks) - {n}), "
        f"i -> {shingle_hash}) "
        "ELSE array() END)"
    )
    return df.select(
        "doc_id", F.explode(F.expr(hashed_arr)).alias("h")
    )


def duck_shingles_ctes(n: int = SHINGLE_N) -> str:
    """Oracle twin of :func:`_shingles`, parameterized on the gram size —
    ONE string builder so every shingle consumer (MinHash family at
    SHINGLE_N, decontamination at its own n) replays the identical
    tokenize→gram→60-bit-hash→distinct chain."""
    return f"""
toks AS (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
raw_shingles AS (
  SELECT doc_id,
    concat_ws(' ', {", ".join(f"t[i+{j}]" for j in range(n))}) AS shingle
  FROM toks
  CROSS JOIN UNNEST(generate_series(1, greatest(len(t) - {n - 1}, 0))) u(i)
),
shingles AS (
  SELECT DISTINCT doc_id, {duck_md5_int60('shingle')} AS h FROM raw_shingles
)"""


_DUCK_SHINGLES = duck_shingles_ctes().strip()

# The shingle relation feeds 3 consumers in every MinHash pipeline
# (signature agg + both verify sides) and re-computing it per consumer
# re-reads the raw text scan — on a real cluster that is remote IO over
# the corpus's largest relation, so it is persisted once. Round-12
# isolated x3 at sf0.1 (SCALE.md round 12 table): persist min 1.52 s vs
# lazy min 1.65-1.82 s, so persisting costs nothing on local[*] either.
def _persist_shingles(sh: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) the shared shingle relation.
    Construction-lazy (persist, never localCheckpoint — round 10), so
    plan-only consumers still run zero jobs.

    Lifetime (ADVICE r12): these caches are deliberately NOT unpersisted
    by the queries that create them — a query returns its DataFrame
    before execution, so no in-query point is "after the terminal
    consumer". Reclamation relies on the cache manager's LRU eviction
    (MEMORY_AND_DISK spills, never OOMs) and on the bench/driver
    per-query ``catalog.clearCache()``; a long-lived session
    constructing many MinHash-family queries re-USES the entries (same
    canonical plan), it doesn't duplicate them."""
    return sh.persist(StorageLevel.MEMORY_AND_DISK)


def _jaccard_verify(
    pairs: DataFrame,
    sh: DataFrame,
    sizes: DataFrame | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Exact Jaccard for candidate pairs only: |A∩B| / (|A|+|B|-|A∩B|).
    Intersection counts come from joining the hashed-shingle relation on
    the 8-byte hash; per-doc set sizes are a tiny aggregate Catalyst
    broadcasts onto the result. Callers that already aggregate per doc
    (the MinHash signature pass) pass their (doc_id, n) relation as
    ``sizes`` so the shingle relation isn't folded a second time.
    ``carry`` names pair columns functionally dependent on the pair
    (e.g. the streaming index's ``peer_is_corpus``); they ride through
    the intersection aggregate instead of a join back to ``pairs``."""
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(sh.alias("s1"), pairs.doc_id_1 == F.col("s1.doc_id"))
        .join(
            sh.alias("s2"),
            (F.col("s2.doc_id") == pairs.doc_id_2)
            & (F.col("s2.h") == F.col("s1.h")),
        )
        .groupBy("doc_id_1", "doc_id_2", *carry)
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_from_inter(inter, sizes, carry)


def _jaccard_from_inter(
    inter: DataFrame, sizes: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    return (
        inter.join(sizes.alias("n1"), inter.doc_id_1 == F.col("n1.doc_id"))
        .join(sizes.alias("n2"), inter.doc_id_2 == F.col("n2.doc_id"))
        .select(
            "doc_id_1",
            "doc_id_2",
            *carry,
            F.round(
                F.col("inter")
                / (F.col("n1.n") + F.col("n2.n") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
    )


_DUCK_JACCARD_VERIFY = """
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_id_1, c.doc_id_2, count(*) AS inter
  FROM cands c
  JOIN shingles s1 ON s1.doc_id = c.doc_id_1
  JOIN shingles s2 ON s2.doc_id = c.doc_id_2 AND s2.h = s1.h
  GROUP BY c.doc_id_1, c.doc_id_2
),
verified AS (
  SELECT i.doc_id_1, i.doc_id_2,
    round(i.inter / (n1.n + n2.n - i.inter), 4) AS jaccard
  FROM inter i
  JOIN sizes n1 ON n1.doc_id = i.doc_id_1
  JOIN sizes n2 ON n2.doc_id = i.doc_id_2
)"""


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def dedup_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation instead of count+countDistinct in one agg:
    mixing distinct and plain aggregates makes Catalyst Expand every row
    ×2 before the shuffle; grouping by fingerprint first shuffles each
    distinct fingerprint once (with map-side partial counts) and the
    second agg is a few rows per partition."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(F.md5(F.lower(F.trim(F.col("text")))).alias("fp"))
    per_fp = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
    n_docs = F.coalesce(F.sum("c"), F.lit(0))  # 0, not NULL, on no docs
    return per_fp.agg(
        n_docs.alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        (n_docs - F.count(F.lit(1))).alias("n_dup_docs"),
    )


def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline-facing exact-dedup output: one surviving (canonical)
    doc per fingerprint group — min doc_id wins — plus how many copies it
    absorbed. One shuffle on the fingerprint; the survivors list is what
    a training pipeline joins back against to filter the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fp")
    )
    return (
        fp.groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("canonical_doc_id", "n_copies")
        .orderBy("canonical_doc_id")
    )


INCREMENT_MOD = 10  # doc_id % 10 >= 8 plays the "new batch" role


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (daily-batch) dedup: new documents checked against the
    EXISTING corpus's fingerprint set — the shape a production pipeline
    runs every ingest cycle, where re-deduping the whole corpus is a
    non-starter. Here the corpus splits deterministically into an
    80% 'existing' / 20% 'new' batch by doc_id. Emits each new doc with
    its verdict: 'dup_of_corpus' (fingerprint already ingested),
    'dup_in_batch' (duplicate within the new batch, non-canonical copy),
    or 'fresh'. Plan: fingerprint both sides map-side, LEFT JOIN the new
    batch against distinct existing fingerprints (broadcastable — the
    fingerprint set is narrow), plus a batch-internal min-window. At
    scale the existing side is a bloom/fingerprint table maintained as a
    sink, not recomputed."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fp")
    )
    existing = (
        fp.filter(F.col("doc_id") % INCREMENT_MOD < 8)
        .select("fp")
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    new_batch = fp.filter(F.col("doc_id") % INCREMENT_MOD >= 8)
    from pyspark.sql import Window

    w = Window.partitionBy("fp")
    return (
        new_batch.withColumn("batch_min", F.min("doc_id").over(w))
        .join(existing, "fp", "left")
        .select(
            "doc_id",
            F.when(F.col("in_corpus") == 1, "dup_of_corpus")
            .when(F.col("doc_id") != F.col("batch_min"), "dup_in_batch")
            .otherwise("fresh")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


def corpus_clean_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data funnel as ONE composed plan: exact-dedup
    survivor selection (min doc_id per fingerprint window) ∘ quality gate
    (doc_quality's formula, ≥ 0.5) ∘ token accounting — total docs in,
    canonical docs, clean docs, and the surviving token budget.

    The quality score is computed INLINE (same formula as
    text.doc_quality, kept in sync by test_llm_pipeline's funnel test)
    rather than joined back from the doc_quality operator: the join form
    scans and re-tokenizes documents twice and pays a doc_id shuffle, the
    fused form is one scan + one fingerprint window + a 1-row agg."""
    from pyspark.sql import Window

    from .text import quality_score_col

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.lower(F.trim(F.col("text")))))
    quality = quality_score_col()
    base = docs.withColumn(
        "toks", F.split(F.trim(F.col("text")), r"\s+")
    ).select(
        F.size("toks").alias("n_toks"),
        (F.col("doc_id") == F.min("doc_id").over(w)).cast("int").alias("keep"),
        (quality >= 0.5).cast("int").alias("good"),
    )
    clean = F.col("keep") * F.col("good")
    return base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").alias("n_canonical"),
        F.sum(clean).alias("n_clean"),
        F.sum(F.col("n_toks") * clean).alias("clean_tokens"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH mining. The shingle relation feeds three consumers
    (signature agg — which also folds the per-doc set sizes since r12 —
    plus both verify sides); it is persisted once (MEMORY_AND_DISK via
    ``_persist_shingles``) instead of letting Spark plan three
    independent scan→explode chains over the raw-text scan, which at
    100 TB is remote IO over the corpus's largest relation (the r12
    isolated re-measure found persist faster on local[*] too — numbers
    in SCALE.md round 12)."""
    return _minhash_pairs_from(
        _persist_shingles(_shingles(spark, sf_dir))
    ).orderBy("doc_id_1", "doc_id_2")


# (b, r) scale lever (VERDICT r11 item 4): the SAME mining pipeline at
# r=2 — at corpus scale the r=1 default's candidate volume explodes
# (any single matching component makes a candidate; P≈0.94 at s=0.3),
# and rows-per-band is the standard mitigation. Registered as its own
# oracle-checked operator so the lever is CODE with a green driver
# verdict, not a docstring promise; `minhash_band_tuning` carries the
# measured candidate-volume/recall table for every (b, r).
SCALED_BANDS, SCALED_ROWS = 4, 2


def minhash_lsh_pairs_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minhash_lsh_pairs`` with (b=4, r=2) banding: a candidate must
    agree on BOTH components of some band, so the collision curve at
    the J=0.8 family threshold steepens (1−(1−t²)⁴) and the sub-
    threshold candidate mass that dominates mining cost on a real
    corpus drops by orders of magnitude (measured per-config in
    ``minhash_band_tuning``: n_candidates column). Same signatures,
    same exact-Jaccard verification, same output contract — candidates
    the coarser banding misses are pairs the r=1 miner would also have
    REJECTED at verify time, so at the operating threshold the output
    difference is only the banding's recall, which the tuning audit
    prices."""
    sh = _persist_shingles(_shingles(spark, sf_dir))
    sig = _minhash_sig(sh)
    cands = _minhash_cands_br(sig, SCALED_BANDS, SCALED_ROWS)
    return (
        _jaccard_verify(cands, sh, sizes=sig.select("doc_id", "n"))
        .filter(F.col("jaccard") >= JACCARD_MINHASH_THRESHOLD)
        .orderBy("doc_id_1", "doc_id_2")
    )


def _minhash_long(sig: DataFrame) -> DataFrame:
    """Long-form (doc_id, seed, mh) band relation — the ONE banding
    scheme every MinHash consumer joins on (full mining, the accuracy
    audit via ``_minhash_sig_cands``, and incremental batch probing)."""
    stack_args = ", ".join(f"{s}, mh{s}" for s in range(MINHASH_K))
    return sig.selectExpr(
        "doc_id", f"stack({MINHASH_K}, {stack_args}) AS (seed, mh)"
    )


def _minhash_sig(sh: DataFrame) -> DataFrame:
    """Wide K-column MinHash signature relation — the ONE signature
    builder every banding consumer shares (h32 fold / permutation
    constants cannot drift between the operator, its audits, and the
    scaled twin)."""
    # signature base: fold the 60-bit shingle hash to 32 bits so the
    # universal-hash products stay inside a signed 64-bit (A < 2^31,
    # base < 2^32 → A·base < 2^63); k permutation minima in one agg pass
    hashed = sh.select(
        "doc_id",
        (F.col("h") % F.lit(4294967296)).alias("h32"),
    )
    # the SAME aggregate also carries the per-doc distinct-shingle
    # count (round 12): the Jaccard verify's set-size relation falls
    # out of the signature pass for free — one fewer full fold over
    # the corpus's largest relation (4 shingle consumers → 3)
    return hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.min(
                (F.lit(_MH_A[s]) * F.col("h32") + F.lit(_MH_B[s]))
                % F.lit(MINHASH_PRIME)
            ).alias(f"mh{s}")
            for s in range(MINHASH_K)
        ],
    )


def _minhash_cands_br(sig: DataFrame, b: int, r: int) -> DataFrame:
    """(b, r)-banded candidate pairs from the wide signature: the K
    components split into ``b`` bands of ``r`` rows; a candidate is a
    pair agreeing on EVERY row of at least one band. r=1 is the
    recall-max mining default; r≥2 is the corpus-scale lever — at the
    family threshold t the collision curve is 1−(1−t^r)^b, so rows per
    band is what suppresses the false-candidate volume that dominates
    cost on a real corpus (``minhash_band_tuning`` measures the exact
    trade). Long-form (doc_id, band, k0..k{{r-1}}), self-join on the
    band key tuple."""
    assert b * r == MINHASH_K, "banding must factorize the signature"
    keys = ", ".join(f"k{j}" for j in range(r))
    arms = ", ".join(
        ", ".join([str(band)] + [f"mh{band * r + j}" for j in range(r)])
        for band in range(b)
    )
    long = sig.selectExpr(
        "doc_id", f"stack({b}, {arms}) AS (band, {keys})"
    )
    cond = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    for j in range(r):
        cond = cond & (F.col(f"a.k{j}") == F.col(f"b.k{j}"))
    return (
        long.alias("a")
        .join(long.alias("b"), cond)
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
        .distinct()
    )


def _minhash_sig_cands(sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash pipeline: (wide K-column signature relation,
    distinct band-join candidate pairs, r=1 banding). The ONE
    definition both ``minhash_lsh_pairs`` and ``minhash_accuracy_audit``
    build from — the audit must audit the exact pipeline the operator
    runs, so the banding scheme / h32 fold / permutation constants
    cannot drift between them."""
    sig = _minhash_sig(sh)
    return sig, _minhash_cands_br(sig, MINHASH_K, 1)


def _minhash_pairs_from(sh: DataFrame) -> DataFrame:
    sig, cands = _minhash_sig_cands(sh)
    return _jaccard_verify(
        cands, sh, sizes=sig.select("doc_id", "n")
    ).filter(F.col("jaccard") >= JACCARD_MINHASH_THRESHOLD)


def _duck_minhash_ctes(b: int = MINHASH_K, r: int = 1) -> str:
    """Shared CTE chain ending in ``verified`` (doc pairs + exact
    jaccard), parameterized on the (b, r) banding exactly like the
    Spark side's ``_minhash_cands_br`` (r=1 default = the mining
    operator; the scaled twin passes r≥2)."""
    assert b * r == MINHASH_K, "banding must factorize the signature"
    mins = ",\n    ".join(
        f"min(({_MH_A[s]} * h32 + {_MH_B[s]}) % {MINHASH_PRIME}) AS mh{s}"
        for s in range(MINHASH_K)
    )
    arms = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {band} AS band, "
        + ", ".join(f"mh{band * r + j} AS k{j}" for j in range(r))
        + " FROM sig"
        for band in range(b)
    )
    joincond = " AND ".join(
        ["a.band = b.band"]
        + [f"a.k{j} = b.k{j}" for j in range(r)]
        + ["a.doc_id < b.doc_id"]
    )
    return f"""{_DUCK_SHINGLES},
hashed AS (
  SELECT doc_id, h % 4294967296 AS h32 FROM shingles
),
sig AS (
  SELECT doc_id,
    {mins}
  FROM hashed GROUP BY doc_id
),
long AS (
  {arms}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
  FROM long a JOIN long b ON {joincond}
),
{_DUCK_JACCARD_VERIFY.lstrip()}"""


def _duck_survivors_sql() -> str:
    """Clusters (recursive-CTE fixpoint) ⋈ the doc_quality expression,
    survivor = row_number 1 under (quality DESC, doc_id). The quality
    CTEs are INTERPOLATED from text.duck_quality_ctes — the same string
    the doc_quality oracle runs, so the gates can't drift (the oracle
    twin of the Spark side's shared quality_score_col)."""
    from .text import duck_quality_ctes

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
clusters AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
  FROM reach GROUP BY a
),
{duck_quality_ctes(t="qt", s="qs", q="qq")},
{duck_survivor_tail()}
"""


def _duck_minhash_sql() -> str:
    return f"""
WITH {_duck_minhash_ctes()}
SELECT doc_id_1, doc_id_2, jaccard
FROM verified
WHERE jaccard >= {JACCARD_MINHASH_THRESHOLD}
ORDER BY doc_id_1, doc_id_2
"""


def _duck_minhash_scaled_sql() -> str:
    """Oracle twin of the (b=4, r=2) scaled miner — the SAME CTE
    builder at the scaled banding, so the lever is hash-checked, not
    asserted."""
    return f"""
WITH {_duck_minhash_ctes(SCALED_BANDS, SCALED_ROWS)}
SELECT doc_id_1, doc_id_2, jaccard
FROM verified
WHERE jaccard >= {JACCARD_MINHASH_THRESHOLD}
ORDER BY doc_id_1, doc_id_2
"""


def _duck_clusters_sql() -> str:
    """Connected components as a recursive CTE: ``reach`` saturates the
    transitive closure of the symmetric near-dup edges (UNION dedups, so
    the recursion terminates); cluster id = min reachable doc id."""
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
)
SELECT a AS doc_id, least(a, min(b)) AS cluster_id
FROM reach
GROUP BY a
ORDER BY doc_id
"""


def near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor policy over the near-dup clusters: per cluster keep the
    highest-quality doc (tie → lowest doc_id) and report what was
    dropped — the decision layer between "these docs are near-dups" and
    an actual deduplicated corpus, quality-aware where
    ``dedup_keep_canonical`` (exact dups) keeps min-id.

    Scale shape: the cluster labels hold only docs WITH near-dup pairs
    (dup-volume-bounded), so the join into the corpus-sized quality
    scan is size-driven — map-side while the labels fit a broadcast, a
    doc_id shuffle when a boilerplate-heavy corpus makes them large;
    the survivor pick is a ``max(struct(quality, -doc_id))`` argmax
    aggregate (partial-aggregating, no window over the corpus).
    Quality reuses the shared ``quality_score_col`` so the survivor
    gate can't drift from the corpus-clean funnel."""
    from .text import quality_score_col

    clusters = _near_dup_cluster_labels(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split(F.trim(F.col("text")), r"\s+")
    )
    quality = docs.select("doc_id", quality_score_col().alias("quality"))
    return _survivor_report(clusters, quality)


def _survivor_report(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """The shared survivor policy: per cluster keep the highest-quality
    member (tie → lowest doc_id) and report the drop count — consumed
    by BOTH ``near_dup_survivors`` (MinHash clusters) and
    ``semantic_dedup_survivors`` (SemDeDup clusters), so the keep rule
    can't drift between funnel stages (shared-helper rule).
    ``clusters`` = (doc_id, cluster_id) — bounded by DUP VOLUME (only
    docs that appear in a pair), not |docs|, but a boilerplate-heavy
    corpus can make that large, so the join is size-driven (the ADVICE
    r8 rule): map-side while the labels broadcast, one doc_id shuffle
    of ``quality`` when they don't. The pick itself is a
    partial-aggregating ``max(struct)`` argmax, never a corpus
    window."""
    scored = quality.join(clusters, "doc_id")
    agg = scored.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max(
            F.struct(
                F.col("quality").alias("q"),
                (-F.col("doc_id")).alias("neg_id"),
            )
        ).alias("best"),
    )
    return agg.select(
        "cluster_id",
        "n_docs",
        (-F.col("best.neg_id")).alias("survivor_id"),
        F.col("best.q").alias("survivor_quality"),
        (F.col("n_docs") - F.lit(1)).alias("n_dropped"),
    ).orderBy("cluster_id")


def duck_survivor_tail(clusters: str = "clusters", q: str = "qq") -> str:
    """The oracle twin of :func:`_survivor_report`, parameterized on the
    cluster/quality CTE names — interpolated by both survivor oracles
    so the rank rule is ONE string."""
    return f"""j AS (
  SELECT c.cluster_id, c.doc_id, {q}.quality
  FROM {clusters} c JOIN {q} ON {q}.doc_id = c.doc_id
),
rk AS (
  SELECT cluster_id, doc_id, quality,
    row_number() OVER (PARTITION BY cluster_id
                       ORDER BY quality DESC, doc_id) AS rn,
    count(*) OVER (PARTITION BY cluster_id) AS n_docs
  FROM j
)
SELECT cluster_id, n_docs, doc_id AS survivor_id,
  quality AS survivor_quality, n_docs - 1 AS n_dropped
FROM rk WHERE rn = 1
ORDER BY cluster_id"""


def corpus_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-corpus cleaning funnel as one plan — the
    query a user actually runs before cutting a training set:

      raw docs → exact dedup (min-id canonical per fingerprint)
               → near-dup collapse (MinHash-LSH clusters; keep the
                 best-quality canonical member per cluster)
               → quality gate (shared quality_score_col, ≥ 0.5)
               → token accounting.

    One row out: docs at each funnel stage plus the surviving token
    budget. Extends ``corpus_clean_summary`` (exact + quality only) with
    the near-dup stage, stitched from the same building blocks the
    stand-alone operators use, so every stage's semantics are already
    individually oracle-checked.

    Scale shape: one corpus scan computes fingerprint, tokens, and
    quality; the exact-dedup flag is a fingerprint window; the
    cluster-label join (only docs WITH near-dup pairs —
    dup-volume-bounded, not a priori tiny) is size-driven; the
    survivor rank partitions by COALESCE(cluster_id, -doc_id-1), giving
    every unclustered doc its own singleton partition — no giant NULL
    partition, no second pass."""
    from pyspark.sql import Window

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
    clusters = _near_dup_cluster_labels(spark, sf_dir)
    lab = kept.join(clusters, "doc_id", "left")
    w_cl = Window.partitionBy(
        F.coalesce(F.col("cluster_id"), -F.col("doc_id") - 1)
    ).orderBy(F.desc("quality"), "doc_id")
    rk = lab.withColumn("rn", F.row_number().over(w_cl))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    final = F.col("rn") == 1
    clean = final & (F.col("quality") >= 0.5)
    return rk.agg(
        F.count(F.lit(1)).alias("n_canonical"),
        F.sum((~final).cast("long")).alias("n_neardup_dropped"),
        F.sum(clean.cast("long")).alias("n_final_clean"),
        F.sum(F.when(clean, F.col("n_toks")).otherwise(0)).alias(
            "clean_tokens"
        ),
    ).join(F.broadcast(n_docs)).select(
        "n_docs",
        "n_canonical",
        "n_neardup_dropped",
        "n_final_clean",
        "clean_tokens",
    )


def _duck_pipeline_sql() -> str:
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
clusters AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
  FROM reach GROUP BY a
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
  FROM kept k LEFT JOIN clusters c ON c.doc_id = k.doc_id
),
rk AS (
  SELECT doc_id, n_toks, quality,
    row_number() OVER (
      PARTITION BY COALESCE(cluster_id, -doc_id - 1)
      ORDER BY quality DESC, doc_id) AS rn
  FROM lab
)
SELECT
  (SELECT count(*) FROM documents) AS n_docs,
  count(*) AS n_canonical,
  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_neardup_dropped,
  CAST(sum(CASE WHEN rn = 1 AND quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_final_clean,
  CAST(sum(CASE WHEN rn = 1 AND quality >= 0.5 THEN n_toks ELSE 0 END)
    AS BIGINT) AS clean_tokens
FROM rk
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 24-bit SimHash over distinct tokens (engine-neutral md5
    ints). The signature is a pure function of the doc's distinct-token
    set, so it computes ENTIRELY map-side with array higher-order
    functions — no explode, no distinct shuffle, no per-doc agg. At
    100 TB this pipelines with the parquet scan; the only shuffle in the
    whole operator is the tiny equal-signature join."""
    # NOTE (measured, sf0.1): a "map-only" formulation via array HOFs
    # (transform + aggregate with an array-of-counters accumulator) is
    # 1.5-3× SLOWER here — lambda expressions run interpreted (no
    # whole-stage codegen) and allocate per element, while explode +
    # hash-agg is fully codegen'd and partial-aggregates map-side. The
    # shuffle this version pays carries only (doc_id, 8-byte hash).
    # Token dedup, though, happens MAP-SIDE via array_distinct on the
    # split array (within-doc distinct ≡ distinct on (doc_id, tok)) —
    # dropping the global `.distinct()` shuffle measured 40% off the
    # signature stage at sf0.1 (0.87s → 0.50s). Dedup runs on token
    # STRINGS here (unlike _shingles' hash-array dedup): the oracle's
    # list_distinct is also string-level, and a 32-bit hash collision
    # between two distinct tokens in one doc must contribute two
    # bit-votes in both engines alike.
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("tok"),
    ).withColumn("h", F.expr(md5_int_sql("tok")))
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN (shiftright(h, {p}) & 1) = 1 THEN 1 ELSE -1 END")
            ).alias(f"b{p}")
            for p in range(SIMHASH_BITS)
        ]
    )
    simhash = " + ".join(
        f"(CASE WHEN b{p} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(SIMHASH_BITS)
    )
    return bit_sums.selectExpr(
        "doc_id", f"CAST({simhash} AS BIGINT) AS simhash"
    )


def simhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both self-join sides read the signature relation: cache the
    # (doc_id, simhash) rows once rather than running the explode+24-sum
    # agg twice (A/B at sf0.1: 1.48s fully-lazy vs 1.28s materialized).
    # persist(), not localCheckpoint (round 10): same dedup, but
    # construction-LAZY — checkpoints execute the AQE stages at build
    # time — and measured faster (1.32s vs 1.64s interleaved A/B)
    sig = simhash_signatures(spark, sf_dir).persist()
    return (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.simhash") == F.col("b.simhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            F.col("a.simhash").alias("simhash"),
        )
        .orderBy("doc_id_1", "doc_id_2")
    )


def _duck_simhash_sql() -> str:
    bit_sums = ",\n    ".join(
        f"list_sum(list_transform(hs,"
        f" h -> CASE WHEN ((h >> {p}) & 1) = 1 THEN 1 ELSE -1 END)) AS b{p}"
        for p in range(SIMHASH_BITS)
    )
    simhash = " + ".join(
        f"(CASE WHEN b{p} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(SIMHASH_BITS)
    )
    return f"""
WITH hashed AS (
  SELECT doc_id,
    list_transform(list_distinct(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')),
                   x -> {duck_md5_int('x')}) AS hs
  FROM documents
),
bitsums AS (
  SELECT doc_id,
    {bit_sums}
  FROM hashed
),
sig AS (SELECT doc_id, CAST({simhash} AS BIGINT) AS simhash FROM bitsums)
SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, a.simhash AS simhash
FROM sig a JOIN sig b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
ORDER BY doc_id_1, doc_id_2
"""


# ---------------------------------------------------------------------------
# SimHash, Manku form: wide signature + block-banded Hamming-<=k join
# ---------------------------------------------------------------------------

# The 24-bit exact-equality form above is the toy-regime twin (VERDICT
# r11 item 3): 2^24 buckets saturate far below a real corpus and
# equality tolerates ZERO bit flips. The scale form is Manku et al.'s
# (WWW'07) fingerprint design: a WIDE signature split into
# HB_BLOCKS blocks; a pair within Hamming distance k <= HB_BLOCKS-1
# must agree EXACTLY on at least one block (pigeonhole), so per-block
# equi-joins find every such pair and a popcount(xor) verify keeps only
# the true ones. 60 bits is the widest md5-derived signature both
# engines compute identically inside a signed BIGINT (the repo's
# cross-engine hashing rule); production would use 64/128-bit with the
# same block algebra. Block width 15 bits = 32k buckets per block at
# toy SF; at corpus scale widen the signature / raise HB_BLOCKS so the
# per-block bucket count tracks the doc count (the tuning knob is the
# same (b, r) trade `minhash_band_tuning` prices for MinHash).
SIMHASH_HB_BITS = 60
HB_BLOCKS = 4
HB_BLOCK_BITS = SIMHASH_HB_BITS // HB_BLOCKS  # 15
HB_MAX_HAMMING = HB_BLOCKS - 1  # pigeonhole-complete detection bound


def simhash_hamming_signatures(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-doc 60-bit SimHash over distinct tokens (md5-60 token
    hashes, one ±1 vote per bit). Same explode + codegen'd hash-agg
    shape as the 24-bit form (measured faster than array-HOF lambdas,
    see :func:`simhash_signatures`); the shuffle carries only
    (doc_id, 8-byte hash)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("tok"),
    ).withColumn("h", F.expr(md5_int60_sql("tok")))
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(
                    f"CASE WHEN (shiftright(h, {p}) & 1) = 1 THEN 1 ELSE -1 END"
                )
            ).alias(f"b{p}")
            for p in range(SIMHASH_HB_BITS)
        ]
    )
    simhash = " + ".join(
        f"(CASE WHEN b{p} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(SIMHASH_HB_BITS)
    )
    return bit_sums.selectExpr(
        "doc_id", f"CAST({simhash} AS BIGINT) AS sig"
    )


def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All doc pairs within Hamming distance ``HB_MAX_HAMMING`` of each
    other's 60-bit SimHash, found WITHOUT an all-pairs comparison:
    per-block equi-join candidates (complete for d <= blocks-1 by
    pigeonhole), then an exact ``bit_count(xor)`` verify. Shuffle
    volume is O(docs x blocks) plus bucket collisions — never O(docs²).
    Output includes the verified distance; k=0 rows are exactly the
    64-bit-equality dups, k>0 rows are the near-dups the exact-equality
    form (``simhash_dup_pairs``) structurally cannot see."""
    sig = simhash_hamming_signatures(spark, sf_dir).persist()
    mask = (1 << HB_BLOCK_BITS) - 1
    arms = ", ".join(
        f"{j}, shiftright(sig, {j * HB_BLOCK_BITS}) & {mask}"
        for j in range(HB_BLOCKS)
    )
    # the long form CARRIES the full signature (8 extra bytes/row), so
    # the popcount verify runs map-side on the raw block collisions and
    # the dedup shuffle sees only VERIFIED pairs — measured 2.27M
    # candidates -> 271k survivors at sf0.1, an 8x cut in the one big
    # shuffle (a pair colliding in several blocks dedups after, not
    # before, the cheap filter)
    blocks = sig.selectExpr(
        "doc_id", "sig", f"stack({HB_BLOCKS}, {arms}) AS (blk, bv)"
    )
    return (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            F.expr(
                "CAST(bit_count(a.sig ^ b.sig) AS BIGINT)"
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= HB_MAX_HAMMING)
        .distinct()
        .orderBy("doc_id_1", "doc_id_2")
    )


def _duck_simhash_hamming_sql() -> str:
    bit_sums = ",\n    ".join(
        f"list_sum(list_transform(hs,"
        f" h -> CASE WHEN ((h >> {p}) & 1) = 1 THEN 1 ELSE -1 END)) AS b{p}"
        for p in range(SIMHASH_HB_BITS)
    )
    simhash = " + ".join(
        f"(CASE WHEN b{p} > 0 THEN {1 << p}::BIGINT ELSE 0::BIGINT END)"
        for p in range(SIMHASH_HB_BITS)
    )
    mask = (1 << HB_BLOCK_BITS) - 1
    arms = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {j} AS blk, (sig >> {j * HB_BLOCK_BITS}) & {mask} AS bv FROM shsig"
        for j in range(HB_BLOCKS)
    )
    return f"""
WITH shh AS (
  SELECT doc_id,
    list_transform(list_distinct(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')),
                   x -> {duck_md5_int60('x')}) AS hs
  FROM documents
),
shbits AS (
  SELECT doc_id,
    {bit_sums}
  FROM shh
),
shsig AS MATERIALIZED (SELECT doc_id, CAST({simhash} AS BIGINT) AS sig FROM shbits),
shblocks AS MATERIALIZED (
  {arms}
),
shcands AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
  FROM shblocks a JOIN shblocks b
    ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT c.doc_id_1, c.doc_id_2,
  CAST(bit_count(xor(s1.sig, s2.sig)) AS BIGINT) AS hamming
FROM shcands c
JOIN shsig s1 ON s1.doc_id = c.doc_id_1
JOIN shsig s2 ON s2.doc_id = c.doc_id_2
WHERE bit_count(xor(s1.sig, s2.sig)) <= {HB_MAX_HAMMING}
ORDER BY doc_id_1, doc_id_2
"""


# ---------------------------------------------------------------------------
# wide (two-lane 120-bit) SimHash — the production-width form
# ---------------------------------------------------------------------------
# SCALE.md has documented since round 12 that 60 bits saturates past ~10^9
# docs (block bits must grow with log2 N); this is that note made code.
# One md5 call yields 120 usable bits as TWO signed-BIGINT lanes (hex chars
# 1-15 and 16-30 — the cross-engine ceiling per lane, functions/hashing.py).
# Lane A is bit-for-bit the 60-bit signature (same hash, same votes), which
# pins the two forms against each other. Six 20-bit blocks (three per lane)
# are pigeonhole-complete for Hamming <= 5 over the full 120 bits, and each
# block addresses 1M buckets vs the 60-bit form's 32k — at equal corpus size
# the per-block collision mass drops ~32x while the arm count rises 1.5x,
# the candidate-volume trade the probe in SCALE.md measures.
WSH_LANE_BITS = 60
WSH_BITS = 2 * WSH_LANE_BITS  # 120
WSH_BLOCKS = 6
WSH_BLOCK_BITS = WSH_BITS // WSH_BLOCKS  # 20
WSH_MAX_HAMMING = WSH_BLOCKS - 1  # pigeonhole-complete bound


def simhash_wide_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc two-lane 120-bit SimHash -> (doc_id, sig_a, sig_b).

    120 separate bit-sum columns would push the aggregate past
    spark.sql.codegen.maxFields (100) and drop the whole stage out of
    codegen, so the per-bit ONES-counters of the two lanes are packed
    into one BIGINT each (lane A in the low 32 bits, lane B in the high
    32): the agg stays at 60 sum columns + count, the same codegen'd
    explode+hash-agg shape the 60-bit form measured fastest. A bit is
    set iff 2*ones > n (strict majority — identical to the +-1-vote
    rule, tie -> 0, deterministic in both engines); overflow-safe while
    a doc has < 2^31 distinct tokens."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
            ).alias("tok"),
        )
        .withColumn("ha", F.expr(md5_int60_sql("tok")))
        .withColumn("hb", F.expr(md5_int60b_sql("tok")))
    )
    packed = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.expr(
                    f"shiftleft(shiftright(hb, {p}) & 1, 32)"
                    f" + (shiftright(ha, {p}) & 1)"
                )
            ).alias(f"s{p}")
            for p in range(WSH_LANE_BITS)
        ],
    )
    sig_a = " + ".join(
        f"(CASE WHEN 2 * (s{p} & 4294967295) > n THEN {1 << p} ELSE 0 END)"
        for p in range(WSH_LANE_BITS)
    )
    sig_b = " + ".join(
        f"(CASE WHEN 2 * shiftright(s{p}, 32) > n THEN {1 << p} ELSE 0 END)"
        for p in range(WSH_LANE_BITS)
    )
    return packed.selectExpr(
        "doc_id",
        f"CAST({sig_a} AS BIGINT) AS sig_a",
        f"CAST({sig_b} AS BIGINT) AS sig_b",
    )


def simhash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All doc pairs within Hamming distance ``WSH_MAX_HAMMING`` of each
    other's 120-bit two-lane SimHash. Same plan shape as the 60-bit
    ``simhash_hamming_pairs``: per-block equi-join candidates (complete
    for d <= blocks-1), two-lane ``bit_count(xor)`` verify MAP-SIDE on
    the raw block collisions, so the one distinct shuffle carries only
    verified pairs. The long rows carry both signatures (16 extra
    bytes/row) to make that possible."""
    sig = simhash_wide_signatures(spark, sf_dir).persist()
    mask = (1 << WSH_BLOCK_BITS) - 1
    arms = ", ".join(
        f"{j}, shiftright(sig_a, {j * WSH_BLOCK_BITS}) & {mask}"
        for j in range(WSH_BLOCKS // 2)
    ) + ", " + ", ".join(
        f"{j + WSH_BLOCKS // 2}, shiftright(sig_b, {j * WSH_BLOCK_BITS}) & {mask}"
        for j in range(WSH_BLOCKS // 2)
    )
    blocks = sig.selectExpr(
        "doc_id", "sig_a", "sig_b",
        f"stack({WSH_BLOCKS}, {arms}) AS (blk, bv)",
    )
    return (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            F.expr(
                "CAST(bit_count(a.sig_a ^ b.sig_a)"
                " + bit_count(a.sig_b ^ b.sig_b) AS BIGINT)"
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= WSH_MAX_HAMMING)
        .distinct()
        .orderBy("doc_id_1", "doc_id_2")
    )


def _duck_simhash_wide_sql() -> str:
    # The oracle computes the two lanes independently (no packing —
    # DuckDB has no codegen-width cliff to dodge); only the final
    # signatures must match the Spark side bit-for-bit.
    ones_a = ",\n    ".join(
        f"list_sum(list_transform(hsa, h -> (h >> {p}) & 1)) AS a{p}"
        for p in range(WSH_LANE_BITS)
    )
    ones_b = ",\n    ".join(
        f"list_sum(list_transform(hsb, h -> (h >> {p}) & 1)) AS c{p}"
        for p in range(WSH_LANE_BITS)
    )
    sig_a = " + ".join(
        f"(CASE WHEN 2 * a{p} > n THEN {1 << p}::BIGINT ELSE 0::BIGINT END)"
        for p in range(WSH_LANE_BITS)
    )
    sig_b = " + ".join(
        f"(CASE WHEN 2 * c{p} > n THEN {1 << p}::BIGINT ELSE 0::BIGINT END)"
        for p in range(WSH_LANE_BITS)
    )
    mask = (1 << WSH_BLOCK_BITS) - 1
    arms = "\n  UNION ALL\n  ".join(
        [
            f"SELECT doc_id, {j} AS blk, (sig_a >> {j * WSH_BLOCK_BITS}) & {mask} AS bv FROM wsig"
            for j in range(WSH_BLOCKS // 2)
        ]
        + [
            f"SELECT doc_id, {j + WSH_BLOCKS // 2} AS blk, (sig_b >> {j * WSH_BLOCK_BITS}) & {mask} AS bv FROM wsig"
            for j in range(WSH_BLOCKS // 2)
        ]
    )
    return f"""
WITH wtoks AS (
  SELECT doc_id,
    list_distinct(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) AS toks
  FROM documents
),
whash AS (
  SELECT doc_id,
    len(toks) AS n,
    list_transform(toks, x -> {duck_md5_int60('x')}) AS hsa,
    list_transform(toks, x -> {duck_md5_int60b('x')}) AS hsb
  FROM wtoks
),
wbits AS (
  SELECT doc_id, n,
    {ones_a},
    {ones_b}
  FROM whash
),
wsig AS MATERIALIZED (
  SELECT doc_id, CAST({sig_a} AS BIGINT) AS sig_a, CAST({sig_b} AS BIGINT) AS sig_b
  FROM wbits
),
wblocks AS MATERIALIZED (
  {arms}
),
wcands AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
  FROM wblocks a JOIN wblocks b
    ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT c.doc_id_1, c.doc_id_2,
  CAST(bit_count(xor(s1.sig_a, s2.sig_a))
     + bit_count(xor(s1.sig_b, s2.sig_b)) AS BIGINT) AS hamming
FROM wcands c
JOIN wsig s1 ON s1.doc_id = c.doc_id_1
JOIN wsig s2 ON s2.doc_id = c.doc_id_2
WHERE bit_count(xor(s1.sig_a, s2.sig_a)) + bit_count(xor(s1.sig_b, s2.sig_b))
      <= {WSH_MAX_HAMMING}
ORDER BY doc_id_1, doc_id_2
"""


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (blocking on shared shingles)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard in ONE pass over the shingle self-join: since
    (doc_id, h) is distinct, each joined row IS one common shingle, so
    grouping the join output by pair counts |A∩B| directly — no candidate
    `distinct` and no second verify-join back against the shingle sets
    (the shape round 1 used, 3 shuffles heavier). Quadratic only within a
    shingle's posting list, the irreducible core of exact Jaccard.

    The shingle relation feeds THREE consumers here (both self-join sides
    + sizes), so it's persist()-ed once: unlike minhash (where the
    fully-lazy form measured even), recomputing the md5 transform under
    both sides of the self-join loses to one 16-byte-per-row
    materialization — interleaved A/B at sf0.1: lazy 1.8-3.4s, cached
    1.45-1.7s. persist() over localCheckpoint (round 10): same dedup,
    construction-lazy (checkpoints execute AQE stages at build time)."""
    sh = _shingles(spark, sf_dir).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        _jaccard_from_inter(inter, sizes)
        .filter(F.col("jaccard") >= JACCARD_NGRAM_THRESHOLD)
        .orderBy("doc_id_1", "doc_id_2")
    )


def jaccard_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs via PPJoin-style prefix filtering —
    IDENTICAL output contract to ``ngram_jaccard_pairs``, different
    algorithm (the candidate-pruned one you run at corpus scale).

    Pigeonhole: if J(A,B) ≥ t, the two docs must share a shingle among the
    first ``p = n − ceil(t·n) + 1`` of their shingles under any GLOBAL
    total order. Ordering by (document frequency ASC, h) puts the RAREST
    shingles in every prefix, so hot shingles — exactly the skewed posting
    lists that make the naive shingle self-join quadratic — almost never
    generate candidates. The self-join runs over prefixes only; survivors
    are verified with an exact intersection count against the full sets.

    ceil(0.6·n) is computed as the integer ``(3·n + 4) div 5`` on both
    engines — no float boundary can flip a prefix length.

    Cost shape: + one df-count aggregate and one per-doc rank window over
    the shingle relation, − the all-pairs explosion inside hot posting
    lists. Honest measurement at sf0.1 (5k docs, mild skew): naive 1.15 s,
    prefix-filtered 1.95 s — the extra shuffles LOSE at this scale, and
    the naive form stays the registered ngram_jaccard_pairs default. The
    crossover is posting-list skew: candidate pairs grow Σ|L|² in the
    naive join (quadratic in the hottest shingle's list) vs Σ|prefix-L|²
    here, so on a web-scale corpus — where a boilerplate shingle's L is
    millions — the naive join is simply not runnable and this one is.
    Both forms are kept registered so the equality test pins them to the
    same semantics forever.
    """
    assert abs(JACCARD_NGRAM_THRESHOLD - 0.6) < 1e-12, "prefix math is 3/5"
    sh = _shingles(spark, sf_dir).persist()  # construction-lazy dedup
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w_doc = W.partitionBy("doc_id").orderBy("df", "h")
    ranked = (
        sh.join(dfreq, "h")
        .select(
            "doc_id",
            "h",
            F.row_number().over(w_doc).alias("rank"),
            F.count(F.lit(1)).over(W.partitionBy("doc_id")).alias("n"),
        )
    )
    prefix = ranked.filter(
        F.col("rank") <= F.col("n") - F.expr("(3 * n + 4) div 5") + 1
    ).select("doc_id", "h")
    cands = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cands.join(
            sh.alias("s1"), F.col("doc_id_1") == F.col("s1.doc_id")
        )
        .join(
            sh.select(
                F.col("doc_id").alias("s2_doc"), F.col("h").alias("s2_h")
            ),
            (F.col("doc_id_2") == F.col("s2_doc"))
            & (F.col("s1.h") == F.col("s2_h")),
        )
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        _jaccard_from_inter(inter, sizes)
        .filter(F.col("jaccard") >= JACCARD_NGRAM_THRESHOLD)
        .orderBy("doc_id_1", "doc_id_2")
    )


# ---------------------------------------------------------------------------
# edit-distance near-dup (banded length blocking)
# ---------------------------------------------------------------------------

LEV_MAX_DIST = 12
LEV_PREFIX = 120
_LEV_BUCKET = 16  # > LEV_MAX_DIST, so adjacent buckets cover all len-diffs


LEV_CHUNK = 9  # pigeonhole chunk width over the folded prefix
LEV_N_CHUNKS = LEV_MAX_DIST + 1  # 13 chunks: >=1 survives <=12 edits intact
LEV_LONG_MIN = LEV_CHUNK * LEV_N_CHUNKS  # 117: all 13 chunks full-width


SNM_WINDOW = 8  # sorted-neighborhood sliding-window size
SNM_KEY_LEN = 32  # folded-text sort-key prefix
SNM_BUCKET_LEN = 2  # sort-key prefix that bounds each window partition


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-Neighborhood Method (Hernández & Stolfo 1995) — the classic
    record-linkage blocking strategy, as a window-function plan: sort docs
    by a folded-text key, pair each doc with its next w-1 neighbors in
    sort order, then exact-Jaccard-verify the candidates only. Linear
    candidate count (w·N vs the shingle join's posting-list quadratic) —
    the cheap first pass you run before LSH when dups share prefixes.

    Scale shape: a window over the FULL sort order would be one reducer,
    so the sort is partitioned by (lang, 2-char key prefix) — ~|langs|·36²
    independent windows, each a linear lead() pass. The recall tradeoff
    (pairs whose keys straddle a bucket boundary are missed) is inherent
    to blocked SNM and documented; candidates are verified exactly, so
    precision is 1 vs `ngram_jaccard_pairs` (subset relation pinned in
    tests). Each ordered window position pair is unique, so candidates
    need no dedup shuffle before the verify join.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Non-Latin text can fold to an EMPTY key — without a fallback every
    # such doc lands in one ('' , lang) window partition, a single
    # reducer at corpus scale. Fall back to the text md5 (exact dups
    # still collide; the partition spreads uniformly). No-op on corpora
    # whose folded keys are non-empty.
    keyed = docs.select(
        "doc_id",
        "lang",
        F.expr(
            "CASE WHEN regexp_replace(lower(trim(text)), '[^a-z0-9]', '') = '' "
            "THEN md5(lower(trim(text))) "
            "ELSE substr(regexp_replace(lower(trim(text)), '[^a-z0-9]', ''), "
            f"1, {SNM_KEY_LEN}) END"
        ).alias("sortkey"),
    ).withColumn("bucket", F.expr(f"substr(sortkey, 1, {SNM_BUCKET_LEN})"))
    w = W.partitionBy("lang", "bucket").orderBy("sortkey", "doc_id")
    with_leads = keyed.select(
        "doc_id",
        F.array(
            *[F.lead("doc_id", k).over(w) for k in range(1, SNM_WINDOW)]
        ).alias("nbrs"),
    )
    cand = (
        with_leads.select("doc_id", F.explode("nbrs").alias("nb"))
        .filter(F.col("nb").isNotNull())
        .select(
            F.least("doc_id", "nb").alias("doc_id_1"),
            F.greatest("doc_id", "nb").alias("doc_id_2"),
        )
    )
    sh = _shingles(spark, sf_dir).persist()  # construction-lazy dedup
    return (
        _jaccard_verify(cand, sh)
        .filter(F.col("jaccard") >= JACCARD_NGRAM_THRESHOLD)
        .orderBy("doc_id_1", "doc_id_2")
    )


def levenshtein_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicates: same-language doc pairs whose
    lengths differ ≤ 12 and whose ASCII-folded 120-char prefixes are
    within Levenshtein distance 12.

    Two-key blocking. Key 1 is the bucketed length band (each doc lands
    in its 16-char bucket AND the next one, so any pair within the
    12-char bound shares ≥1 (lang, bucket) — equi-key, no theta join).
    Length bands alone are NOT scale-stable: band population grows
    linearly with the corpus, so within-band pairs grow quadratically.
    Key 2 fixes that with the pigeonhole (PartEnum) lemma: split a
    ≥117-char probe into 13 fixed 9-char chunks — ≤12 edits leave ≥1
    chunk intact as a verbatim substring of the other probe. The
    chunk side emits 13 keys/doc, the other side emits every 9-char
    substring of its probe (~112 keys/doc, ids+key only — probes are
    re-attached after the candidate distinct, so the exploded shuffle
    rows stay ~40 bytes at any corpus size), and the join key
    (lang, bucket, 9-gram) keeps block population bounded by true
    near-dup density instead of corpus size. Docs shorter than 117
    (probe can't hold 13 full chunks — the lemma's guarantee lapses)
    take the banded-only path; the two paths partition the pair space
    on ``least(len_a, len_b) < 117`` so the union is disjoint and
    lossless. ``tests/test_llm_pipeline.py`` pins equality against the
    banded-only reference at two SFs.

    Spark's 3-arg ``levenshtein`` takes the distance bound and
    early-exits the DP once a row exceeds it (returns −1) — at a
    12-bound that is ~levᐧ120 cells instead of 120².

    Non-ASCII chars are folded to '#' on BOTH engines before comparing:
    Spark's levenshtein counts unicode chars while DuckDB's counts UTF-8
    bytes, and the fold (verified: ß→s costs 2 in DuckDB) is what makes
    the two metrics coincide. Distances on CJK text are correspondingly
    coarse — documented semantics, not an accident.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.length(F.trim(F.col("text"))).alias("len"),
        F.regexp_replace(
            F.substring(F.trim(F.col("text")), 1, LEV_PREFIX),
            r"[^\x00-\x7f]",
            "#",
        ).alias("probe"),
    )
    bucket = (F.col("len") / _LEV_BUCKET).cast("long")
    buckets = F.explode(F.array(bucket, bucket + 1)).alias("bucket")

    # --- short path: banded-only, pairs where either side < LEV_LONG_MIN
    banded = docs.select("doc_id", "lang", "len", "probe", buckets)
    cand_short = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            (F.abs(F.col("a.len") - F.col("b.len")) <= LEV_MAX_DIST)
            & (F.least(F.col("a.len"), F.col("b.len")) < LEV_LONG_MIN)
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            F.col("a.lang").alias("lang"),
            F.col("a.probe").alias("probe_1"),
            F.col("b.probe").alias("probe_2"),
        )
        .distinct()  # the 2-bucket explode can emit a pair twice
    )

    # --- long path: (lang, bucket, surviving-9-gram) blocking
    longs = docs.filter(F.col("len") >= LEV_LONG_MIN)
    chunk_keys = longs.select(
        "doc_id",
        "lang",
        "len",
        buckets,
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(0, {LEV_N_CHUNKS - 1}), "
                    f"i -> substring(probe, i * {LEV_CHUNK} + 1, {LEV_CHUNK}))"
                )
            )
        ).alias("k"),
    )
    sub_keys = longs.select(
        F.col("doc_id").alias("doc_id_r"),
        F.col("lang").alias("lang_r"),
        F.col("len").alias("len_r"),
        buckets,
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(probe) - {LEV_CHUNK - 1}), "
                    f"i -> substring(probe, i, {LEV_CHUNK}))"
                )
            )
        ).alias("k_r"),
    ).withColumnRenamed("bucket", "bucket_r")
    cand_ids = (
        chunk_keys.join(
            sub_keys,
            (F.col("lang") == F.col("lang_r"))
            & (F.col("bucket") == F.col("bucket_r"))
            & (F.col("k") == F.col("k_r"))
            & (F.col("doc_id") < F.col("doc_id_r")),
        )
        .filter(F.abs(F.col("len") - F.col("len_r")) <= LEV_MAX_DIST)
        .select(
            F.col("doc_id").alias("doc_id_1"),
            F.col("doc_id_r").alias("doc_id_2"),
        )
        .distinct()
    )
    probes = docs.select("doc_id", "lang", "probe")
    cand_long = (
        cand_ids.join(
            probes.select(
                F.col("doc_id").alias("doc_id_1"),
                F.col("lang"),
                F.col("probe").alias("probe_1"),
            ),
            "doc_id_1",
        )
        .join(
            probes.select(
                F.col("doc_id").alias("doc_id_2"),
                F.col("probe").alias("probe_2"),
            ),
            "doc_id_2",
        )
        .select("doc_id_1", "doc_id_2", "lang", "probe_1", "probe_2")
    )

    pairs = (
        cand_short.unionByName(cand_long)
        .select(
            "doc_id_1",
            "doc_id_2",
            "lang",
            F.levenshtein(
                F.col("probe_1"), F.col("probe_2"), LEV_MAX_DIST
            ).alias("lev"),
        )
        .filter(F.col("lev") >= 0)
    )
    return pairs.select(
        "doc_id_1", "doc_id_2", "lang", F.col("lev").alias("edit_distance")
    ).orderBy("doc_id_1", "doc_id_2")


def _near_dup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified MinHash near-dup pairs:
    every doc in a duplicate cluster labeled with the cluster's min
    doc_id — the canonical-per-cluster assignment exact dedup can't give
    you when duplicates aren't byte-identical.

    Iterative min-label propagation on DataFrames: each round joins
    labels across edges and keeps the elementwise min, terminating when a
    round changes nothing (label sets shrink monotonically, so rounds ≤
    graph diameter). ``localCheckpoint`` truncates lineage each round —
    without it the plan doubles per iteration and the job dies on plan
    size long before data size matters. The DuckDB oracle computes the
    same fixpoint declaratively with a recursive CTE.

    At 100 TB: pairs come from LSH (already subquadratic); each round is
    one shuffle of the label table on doc_id. GraphFrames/Pregel is the
    packaged form of exactly this loop.

    Algorithm selection (measured, SCALE.md): the MinHash dup graph has
    SMALL-diameter components (near-clique clusters of mutual dups), so
    propagation converges in a few cheap label-table rounds and beats
    the alternating-star form here (3.2 s vs 5.4 s at sf0.1);
    ``semantic_dedup_survivors``'s chain-shaped graph is the opposite
    case and uses ``_star_components``.
    """
    # materialize the MINED PAIRS once (they feed every propagation round
    # via the symmetrized union, whose branches are planned independently):
    # localCheckpoint, not cache — caching pins the pre-AQE plan and was
    # measured ~1s slower; and mine WITHOUT minhash_lsh_pairs' presentation
    # orderBy (a global sort the propagation immediately destroys)
    sh = _persist_shingles(_shingles(spark, sf_dir))
    pairs = (
        _minhash_pairs_from(sh)
        .select("doc_id_1", "doc_id_2")
        .localCheckpoint()
    )
    # the checkpoint just materialized every consumer of the shingle
    # cache — release it, or each clustering query pins the corpus's
    # largest relation in MEMORY_AND_DISK with no future reader
    # (review r12)
    sh.unpersist()
    edges = pairs.union(
        pairs.select(
            F.col("doc_id_2").alias("doc_id_1"),
            F.col("doc_id_1").alias("doc_id_2"),
        )
    )
    # The propagation tail touches only docs that HAVE near-dup pairs — a
    # tiny relation at any corpus size — so per-round shuffle width is pure
    # overhead: scope the loop to few partitions, restore after (3× faster
    # at sf0.1: 12s → 4s).
    with loop_width(spark, 4):
        return _propagate_min_labels(edges)


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presentation form of ``_near_dup_cluster_labels`` — the sort is
    OUTSIDE the shared fixpoint so downstream aggregating consumers
    (``dedup_cluster_size_histogram``) don't pay a discarded global
    range exchange (the same lever as mining without
    ``minhash_lsh_pairs``' presentation orderBy)."""
    return _near_dup_cluster_labels(spark, sf_dir).orderBy("doc_id")


def _propagate_min_labels(edges: DataFrame) -> DataFrame:
    """Min-label propagation with path halving: each round takes the min
    of (own label, best neighbor label, label OF the current label — the
    pointer-jumping hop that makes rounds O(log diameter) instead of
    O(diameter)). Convergence (rows whose label changed this round) is
    OBSERVED during the round's own checkpoint materialization
    (``checkpoint_with_metrics``), so a round costs exactly ONE Spark
    job — no separate count, no compare join (round 14; the loops are
    job-floor-bounded at bench SF, so the old per-round count job was a
    third of the loop wall)."""
    labels = (
        edges.select(F.col("doc_id_1").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    while True:
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("doc_id", "doc_id_2").select(
                    "doc_id_2", F.col("cluster_id").alias("n_label")
                ),
                "doc_id_2",
            )
            .groupBy(F.col("doc_id_1").alias("doc_id"))
            .agg(F.min("n_label").alias("n_label"))
        )
        # path halving: my label's OWN current label (labels is also the
        # doc_id -> cluster_id pointer table)
        hop = labels.select(
            F.col("doc_id").alias("cluster_id"),
            F.col("cluster_id").alias("hop_label"),
        )
        stepped, m = checkpoint_with_metrics(
            labels.join(neighbor_min, "doc_id", "left")
            .join(hop, "cluster_id", "left")
            .select(
                "doc_id",
                F.col("cluster_id").alias("old_label"),
                F.least(
                    "cluster_id",
                    F.coalesce("n_label", "cluster_id"),
                    F.coalesce("hop_label", "cluster_id"),
                ).alias("cluster_id"),
            ),
            F.coalesce(
                F.sum(
                    (F.col("cluster_id") != F.col("old_label")).cast("long")
                ),
                F.lit(0),
            ).alias("changed"),
        )
        labels = stepped.select("doc_id", "cluster_id")
        if m["changed"] == 0:
            return labels


# ---------------------------------------------------------------------------
# embedding-cosine near-dup pairs
# ---------------------------------------------------------------------------


def _l2_norm_expr(col: str) -> F.Column:
    """L2 norm of an array column, double precision, JVM-side HOFs."""
    return F.expr(
        f"sqrt(aggregate(transform({col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )


def _cosine_expr(a: str, b: str) -> F.Column:
    """cosine(a, b) in double precision via zip_with/aggregate — JVM-side,
    no Python. Sequential left-to-right sums match the oracle's ascending-
    index sums to ~1e-15; both sides round to 4dp."""
    dot = F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return dot / (_l2_norm_expr(a) * _l2_norm_expr(b))


EMB_CHUNK_ROWS = 8192  # corpus-side Arrow chunk (rows) — bounds task memory


def embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine >= COSINE_DUP_THRESHOLD, chunked block-grid.

    The naive expression form (self-join + per-pair zip_with/aggregate)
    evaluates 2M interpreted lambdas and recomputes every norm N times —
    150 s at sf0.1. Instead the quadratic work runs as a map-only grid of
    (streamed block × corpus chunk) BLAS matmuls: the corpus streams
    through ``mapInPandas`` (Arrow batches = the grid's row blocks), and
    INSIDE the closure each executor re-reads the corpus parquet in
    bounded ``EMB_CHUNK_ROWS`` record batches (the grid's column blocks).
    NOTHING is materialized on the driver and nothing is broadcast — task
    memory is one stream batch + one corpus chunk (≈8k × dim doubles)
    regardless of corpus size, which is what "works at 100 TB" requires
    (the executor-side re-scan is columnar, projected to (vec_id,
    embedding), and in production reads the same partitioned store the
    stream side does; IO grows linearly with grid rows while the flops
    stay the unavoidable O(N²·d)). A conservative raw prefilter keeps
    only near-threshold candidates; final round/threshold stays in Spark
    so rounding semantics (HALF_UP, 4dp) match the DuckDB oracle exactly.

    ``tests/test_llm_pipeline.py`` pins the no-driver-materialization
    claim by monkeypatching ``DataFrame.toPandas``/``collect`` to raise
    while this operator plans and executes.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    corpus_path = f"{sf_dir}/embeddings.parquet"
    # raw-double prefilter strictly below the rounded threshold so no
    # boundary candidate is lost before Spark-side F.round decides
    pre = COSINE_DUP_THRESHOLD - 5e-5
    chunk_rows = EMB_CHUNK_ROWS

    def block_pairs(batches):
        import os

        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        def to_mat(col):
            return np.asarray(
                [np.asarray(v, dtype=np.float64) for v in col]
            )

        # the corpus "file" may be a Spark-written DIRECTORY of part
        # files (e.g. scale_probe replicas) — resolve to a flat list
        if os.path.isdir(corpus_path):
            corpus_files = sorted(
                os.path.join(corpus_path, f)
                for f in os.listdir(corpus_path)
                if f.endswith(".parquet")
            )
        else:
            corpus_files = [corpus_path]

        def corpus_chunks():
            for path in corpus_files:
                pf = pq.ParquetFile(path)
                try:
                    yield from pf.iter_batches(
                        batch_size=chunk_rows,
                        columns=["vec_id", "embedding"],
                    )
                finally:
                    pf.close()

        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = to_mat(pdf["embedding"])
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            qids = pdf["vec_id"].to_numpy()
            qmax = qids.max()
            for rb in corpus_chunks():
                cids = rb.column("vec_id").to_numpy()
                # grid-cell pruning: the pair constraint is qid < cid, so
                # a corpus chunk entirely <= min qid contributes nothing
                if cids.min() >= qmax:
                    continue
                cmat = to_mat(rb.column("embedding").to_pylist())
                cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
                sims = q @ cmat.T
                rows, cols = np.nonzero(
                    (sims >= pre) & (qids[:, None] > cids[None, :])
                )
                yield pd.DataFrame(
                    {
                        "vec_id_1": cids[cols],
                        "vec_id_2": qids[rows],
                        "cosine_raw": sims[rows, cols],
                    }
                )

    cand = emb.select("vec_id", "embedding").mapInPandas(
        block_pairs,
        schema="vec_id_1 long, vec_id_2 long, cosine_raw double",
    )
    return (
        cand.select(
            "vec_id_1",
            "vec_id_2",
            F.round(F.col("cosine_raw"), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .orderBy("vec_id_1", "vec_id_2")
    )


PASSAGE_K = 8  # tokens per span — the memorization-span width
PASSAGE_MIN_DOCS = 2
PASSAGE_TOP = 50


def duplicate_passage_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated passages: every ``PASSAGE_K``-token
    window that appears verbatim in ≥2 distinct documents, ranked by
    document reach — the substring-level dedup that document-level
    fingerprints miss (boilerplate headers, quoted passages, templated
    spans memorized verbatim by language models; the operator follows
    the sliding-window formulation of suffix-array training-data dedup,
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better").

    Shape at scale: tokenize once, explode n−K+1 windows per doc
    (codegen ``transform``+``slice``, no Python), hash-aggregate on the
    span — partial aggregation collapses within-partition repeats
    map-side, so the shuffle carries distinct spans, not occurrences.
    The final global top-50 is a TakeOrdered (per-partition top-k then
    a driver merge of 50-row heads), never a full sort. In production
    the span string would be md5'd before the shuffle (the engine's
    hashing convention) — kept readable here because the span text IS
    the report.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    ).filter(F.size("t") >= PASSAGE_K)
    spans = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {PASSAGE_K} + 1), "
                f"i -> concat_ws(' ', slice(t, i, {PASSAGE_K})))"
            )
        ).alias("span"),
    )
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= PASSAGE_MIN_DOCS)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "span")
        .limit(PASSAGE_TOP)
    )


_DUCK_COSINE = """
norms AS (
  SELECT vec_id, sqrt(sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS nrm
  FROM embeddings CROSS JOIN UNNEST(generate_series(1, 64)) t(i)
  GROUP BY vec_id
),
dots AS (
  SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
    sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dot
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id
  CROSS JOIN UNNEST(generate_series(1, 64)) t(i)
  GROUP BY 1, 2
)"""

ORACLE: dict[str, str] = {
    "dedup_exact_summary": """
SELECT count(*) AS n_docs,
  count(DISTINCT md5(lower(trim(text)))) AS n_distinct,
  count(*) - count(DISTINCT md5(lower(trim(text)))) AS n_dup_docs
FROM documents
""",
    "dedup_keep_canonical": """
SELECT min(doc_id) AS canonical_doc_id, count(*) AS n_copies
FROM documents
GROUP BY md5(lower(trim(text)))
ORDER BY canonical_doc_id
""",
    "incremental_dedup": f"""
WITH fp AS (
  SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents
),
existing AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id % {INCREMENT_MOD} < 8
),
batch AS (
  SELECT doc_id, fp,
    min(doc_id) OVER (PARTITION BY fp) AS batch_min
  FROM fp WHERE doc_id % {INCREMENT_MOD} >= 8
)
SELECT b.doc_id,
  CASE WHEN e.fp IS NOT NULL THEN 'dup_of_corpus'
       WHEN b.doc_id <> b.batch_min THEN 'dup_in_batch'
       ELSE 'fresh' END AS verdict
FROM batch b LEFT JOIN existing e ON b.fp = e.fp
ORDER BY b.doc_id
""",
    "minhash_lsh_pairs": _duck_minhash_sql(),
    "minhash_lsh_pairs_scaled": _duck_minhash_scaled_sql(),
    "near_dup_clusters": _duck_clusters_sql(),
    "near_dup_survivors": _duck_survivors_sql(),
    "corpus_dedup_pipeline": _duck_pipeline_sql(),
    "simhash_dup_pairs": _duck_simhash_sql(),
    "simhash_hamming_pairs": _duck_simhash_hamming_sql(),
    "simhash_wide_pairs": _duck_simhash_wide_sql(),
    "sorted_neighborhood_pairs": f"""
WITH {_DUCK_SHINGLES},
keyed AS (
  SELECT doc_id, lang,
    CASE WHEN regexp_replace(lower(trim(text)), '[^a-z0-9]', '', 'g') = ''
      THEN md5(lower(trim(text)))
      ELSE substr(regexp_replace(lower(trim(text)), '[^a-z0-9]', '', 'g'),
                  1, {SNM_KEY_LEN}) END AS sortkey
  FROM documents
),
nbrs AS (
  SELECT doc_id,
    [{", ".join(f"lead(doc_id, {k}) OVER w" for k in range(1, SNM_WINDOW))}]
      AS nb
  FROM keyed
  WINDOW w AS (
    PARTITION BY lang, substr(sortkey, 1, {SNM_BUCKET_LEN})
    ORDER BY sortkey, doc_id)
),
cands AS (
  SELECT least(doc_id, u.nb) AS doc_id_1, greatest(doc_id, u.nb) AS doc_id_2
  FROM nbrs CROSS JOIN UNNEST(nb) u(nb)
  WHERE u.nb IS NOT NULL
),
{_DUCK_JACCARD_VERIFY.lstrip()}
SELECT doc_id_1, doc_id_2, jaccard
FROM verified
WHERE jaccard >= {JACCARD_NGRAM_THRESHOLD}
ORDER BY doc_id_1, doc_id_2
""",
    "ngram_jaccard_pairs": f"""
WITH {_DUCK_SHINGLES},
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS inter
  FROM shingles a JOIN shingles b
    ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_id_1, i.doc_id_2,
  round(i.inter / (n1.n + n2.n - i.inter), 4) AS jaccard
FROM inter i
JOIN sizes n1 ON n1.doc_id = i.doc_id_1
JOIN sizes n2 ON n2.doc_id = i.doc_id_2
WHERE round(i.inter / (n1.n + n2.n - i.inter), 4) >= {JACCARD_NGRAM_THRESHOLD}
ORDER BY doc_id_1, doc_id_2
""",
    "jaccard_prefix_filter_pairs": f"""
WITH {_DUCK_SHINGLES},
dfreq AS (SELECT h, count(*) AS df FROM shingles GROUP BY h),
ranked AS (
  SELECT s.doc_id, s.h,
    row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.h) AS rank,
    count(*) OVER (PARTITION BY s.doc_id) AS n
  FROM shingles s JOIN dfreq d ON d.h = s.h
),
prefix AS (
  SELECT doc_id, h FROM ranked
  WHERE rank <= n - ((3 * n + 4) // 5) + 1
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
  FROM prefix a JOIN prefix b
    ON a.h = b.h AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_id_1, c.doc_id_2, count(*) AS inter
  FROM cands c
  JOIN shingles s1 ON s1.doc_id = c.doc_id_1
  JOIN shingles s2 ON s2.doc_id = c.doc_id_2 AND s2.h = s1.h
  GROUP BY c.doc_id_1, c.doc_id_2
)
SELECT i.doc_id_1, i.doc_id_2,
  round(i.inter / (n1.n + n2.n - i.inter), 4) AS jaccard
FROM inter i
JOIN sizes n1 ON n1.doc_id = i.doc_id_1
JOIN sizes n2 ON n2.doc_id = i.doc_id_2
WHERE round(i.inter / (n1.n + n2.n - i.inter), 4) >= {JACCARD_NGRAM_THRESHOLD}
ORDER BY doc_id_1, doc_id_2
""",
    "levenshtein_dup_pairs": f"""
WITH probes AS (
  SELECT doc_id, lang, length(trim(text)) AS len,
    regexp_replace(substr(trim(text), 1, {LEV_PREFIX}),
                   '[^\\x00-\\x7f]', '#', 'g') AS probe
  FROM documents
),
banded AS (
  SELECT doc_id, lang, len, probe, len // {_LEV_BUCKET} + b.o AS bucket
  FROM probes, (SELECT 0 AS o UNION ALL SELECT 1) b
)
SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, a.lang AS lang,
  levenshtein(a.probe, b.probe) AS edit_distance
FROM banded a JOIN banded b
  ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE abs(a.len - b.len) <= {LEV_MAX_DIST}
  AND levenshtein(a.probe, b.probe) <= {LEV_MAX_DIST}
ORDER BY doc_id_1, doc_id_2
""",
    "embedding_dup_pairs": f"""
WITH {_DUCK_COSINE.lstrip()}
SELECT d.vec_id_1, d.vec_id_2,
  round(d.dot / (n1.nrm * n2.nrm), 4) AS cosine
FROM dots d
JOIN norms n1 ON n1.vec_id = d.vec_id_1
JOIN norms n2 ON n2.vec_id = d.vec_id_2
WHERE round(d.dot / (n1.nrm * n2.nrm), 4) >= {COSINE_DUP_THRESHOLD}
ORDER BY vec_id_1, vec_id_2
""",
}

from .text import _STOP_IN as _TEXT_STOP_IN  # noqa: E402  (quality-gate parity)

ORACLE["corpus_clean_summary"] = f"""
WITH t AS (
  SELECT doc_id, n_chars, text,
    string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id,
    least(n_chars / 500.0, 1.0) AS length_score,
    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS diversity,
    CAST(len(list_filter(toks, x -> x IN {_TEXT_STOP_IN})) AS DOUBLE) / len(toks) AS stop_ratio,
    len(toks) AS n_toks,
    md5(lower(trim(text))) AS fp
  FROM t
),
g AS (
  SELECT doc_id, n_toks,
    CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS keep,
    CASE WHEN round((length_score + diversity
          + CASE WHEN stop_ratio >= 0.02 AND stop_ratio <= 0.4 THEN 1.0 ELSE 0.5 END) / 3, 4) >= 0.5
         THEN 1 ELSE 0 END AS good
  FROM s
)
SELECT count(*) AS n_docs,
  CAST(sum(keep) AS BIGINT) AS n_canonical,
  CAST(sum(keep * good) AS BIGINT) AS n_clean,
  CAST(sum(n_toks * keep * good) AS BIGINT) AS clean_tokens
FROM g
"""

ORACLE["duplicate_passage_spans"] = f"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS t
  FROM documents
),
spans AS (
  SELECT doc_id, array_to_string(t[i:i + {PASSAGE_K - 1}], ' ') AS span
  FROM tok CROSS JOIN UNNEST(generate_series(1, len(t) - {PASSAGE_K} + 1)) u(i)
  WHERE len(t) >= {PASSAGE_K}
)
SELECT span,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
  count(*) AS n_occurrences
FROM spans
GROUP BY span
HAVING count(DISTINCT doc_id) >= {PASSAGE_MIN_DOCS}
ORDER BY n_docs DESC, n_occurrences DESC, span
LIMIT {PASSAGE_TOP}
"""

QUERIES = {
    "dedup_exact_summary": dedup_exact_summary,
    "dedup_keep_canonical": dedup_keep_canonical,
    "incremental_dedup": incremental_dedup,
    "corpus_clean_summary": corpus_clean_summary,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "minhash_lsh_pairs_scaled": minhash_lsh_pairs_scaled,
    "near_dup_clusters": near_dup_clusters,
    "near_dup_survivors": near_dup_survivors,
    "corpus_dedup_pipeline": corpus_dedup_pipeline,
    "simhash_dup_pairs": simhash_dup_pairs,
    "simhash_hamming_pairs": simhash_hamming_pairs,
    "simhash_wide_pairs": simhash_wide_pairs,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "sorted_neighborhood_pairs": sorted_neighborhood_pairs,
    "jaccard_prefix_filter_pairs": jaccard_prefix_filter_pairs,
    "levenshtein_dup_pairs": levenshtein_dup_pairs,
    "embedding_dup_pairs": embedding_dup_pairs,
    "duplicate_passage_spans": duplicate_passage_spans,
}


# ---------------------------------------------------------------------------
# MinHash estimate-vs-exact accuracy audit
# ---------------------------------------------------------------------------


def minhash_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy ledger: for every LSH candidate pair, the MinHash
    ESTIMATE of Jaccard (matching signature components / K) next to the
    exact value — grouped by match count into the K+1-row error profile
    (pair count, mean exact Jaccard, mean/max absolute error). This is
    the audit that justifies K and the banding threshold before trusting
    the sketch on a corpus where exact verification is unaffordable:
    E[matches/K] = J and the profile shows the ±1/√K spread directly.

    Scale shape: identical frames to ``minhash_lsh_pairs`` (one
    signature agg, band self-join for candidates, posting-list-bounded
    exact verify) plus a candidate-sized signature re-join; the output
    is K+1 rows regardless of corpus size. Estimates m/K are exact
    doubles (m ≤ 8), so the error terms subtract identically on both
    engines before the 4dp round.

    ``cand_volume_ge`` (round 12): candidates with AT LEAST this many
    matching components — the realized candidate VOLUME a
    "require ≥ m matches" banding filter would keep, read top-down.
    Together with the per-row precision columns this makes the
    precision/recall/volume trade measured in the audit itself (the
    r=1 row is the full mining cost; the volume collapse toward m=K is
    why ``minhash_lsh_pairs_scaled`` exists). Window over K+1
    aggregated rows — benign under the global-window audit.
    """
    sh = _persist_shingles(_shingles(spark, sf_dir))
    sig, cands = _minhash_sig_cands(sh)
    matches = sum(
        (F.col(f"s1.mh{s}") == F.col(f"s2.mh{s}")).cast("int")
        for s in range(MINHASH_K)
    )
    est = (
        cands.join(sig.alias("s1"), cands.doc_id_1 == F.col("s1.doc_id"))
        .join(sig.alias("s2"), cands.doc_id_2 == F.col("s2.doc_id"))
        .select("doc_id_1", "doc_id_2", matches.alias("n_match"))
    )
    exact = _jaccard_verify(cands, sh, sizes=sig.select("doc_id", "n"))
    err = F.abs(
        F.col("n_match") / F.lit(float(MINHASH_K)) - F.col("jaccard")
    )
    return (
        est.join(exact, ["doc_id_1", "doc_id_2"])
        .groupBy("n_match")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 4).alias("avg_exact_jaccard"),
            F.round(F.avg(err), 4).alias("avg_abs_err"),
            F.round(F.max(err), 4).alias("max_abs_err"),
        )
        .select(
            "n_match",
            F.round(
                F.col("n_match") / F.lit(float(MINHASH_K)), 4
            ).alias("est_jaccard"),
            "n_pairs",
            F.sum("n_pairs")
            .over(W.orderBy(F.desc("n_match")))
            .alias("cand_volume_ge"),
            "avg_exact_jaccard",
            "avg_abs_err",
            "max_abs_err",
        )
        .orderBy("n_match")
    )


def _duck_minhash_audit_sql() -> str:
    m = " + ".join(
        f"CASE WHEN s1.mh{s} = s2.mh{s} THEN 1 ELSE 0 END"
        for s in range(MINHASH_K)
    )
    return f"""
WITH {_duck_minhash_ctes()},
est AS (
  SELECT c.doc_id_1, c.doc_id_2, {m} AS n_match
  FROM cands c
  JOIN sig s1 ON s1.doc_id = c.doc_id_1
  JOIN sig s2 ON s2.doc_id = c.doc_id_2
)
, grouped AS (
  SELECT e.n_match,
    round(CAST(e.n_match AS DOUBLE) / {float(MINHASH_K)}, 4) AS est_jaccard,
    CAST(count(*) AS BIGINT) AS n_pairs,
    round(avg(v.jaccard), 4) AS avg_exact_jaccard,
    round(avg(abs(CAST(e.n_match AS DOUBLE) / {float(MINHASH_K)} - v.jaccard)), 4)
      AS avg_abs_err,
    round(max(abs(CAST(e.n_match AS DOUBLE) / {float(MINHASH_K)} - v.jaccard)), 4)
      AS max_abs_err
  FROM est e
  JOIN verified v
    ON v.doc_id_1 = e.doc_id_1 AND v.doc_id_2 = e.doc_id_2
  GROUP BY e.n_match
)
SELECT n_match, est_jaccard, n_pairs,
  CAST(sum(n_pairs) OVER (ORDER BY n_match DESC) AS BIGINT)
    AS cand_volume_ge,
  avg_exact_jaccard, avg_abs_err, max_abs_err
FROM grouped
ORDER BY n_match
"""


ORACLE["minhash_accuracy_audit"] = _duck_minhash_audit_sql()
QUERIES["minhash_accuracy_audit"] = minhash_accuracy_audit


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage (structured-record tier)
# ---------------------------------------------------------------------------

# m-probabilities: P(field agrees | records match) — declared model
# constants (the EM-fitted values in a real deployment); u comes from data.
FS_M = {"segment": 0.9, "band": 0.85, "suffix": 0.95}
FS_UPPER_I6 = 3_000_000  # >= 3.0 bits  → 'link'
FS_LOWER_I6 = 0  # >= 0.0 bits → 'possible', else 'nonlink'
FS_TOP = 50


def fs_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over nation-blocked
    customer pairs — the STRUCTURED-record tier of the dedup shelf (the
    text side has MinHash/SimHash/edit-distance; this is how you link
    typed entity records). Each candidate pair gets a log-likelihood-
    ratio score Σᵢ log2(m/u) (field agrees) or log2((1−m)/(1−u))
    (disagrees) over the comparison vector (mktsegment, acctbal band,
    key suffix — the suffix standing in for the phone/zip
    quasi-identifier of real data), then the classic three-band
    classification (link / possible / nonlink). Emits the top-50 pairs
    by score with their agreement vector.

    The u-probabilities (chance agreement among NON-matches) are
    estimated from value frequencies — u = Σ_v f_v(f_v−1)/(N(N−1)) per
    field, the standard frequency-based estimator — in one tiny
    aggregate per field; m are declared model constants (EM fitting is
    a training concern, reference the ``logreg_churn_gd`` trainer
    shape). Blocking is the house candidate discipline: equi-join on
    nationkey (at 100 TB: multi-pass blocking + the existing
    ``sorted_neighborhood_pairs`` — candidate volume stays
    density-bounded; this operator's contribution is the SCORING
    model).

    Cross-engine: frequency sums are exact BIGINTs; each weight is one
    log2 rounded to a 1e6-scaled BIGINT (the KN discipline); pair
    scores are integer sums; the display score is k/1e6 (repr-stable).
    Total order (score desc, custkey pair) makes the top-50 unique.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / F.lit(100.0)).alias("band"),
        (F.col("c_custkey") % 100).alias("suffix"),
    )
    n_tot = cust.agg(F.count(F.lit(1)).alias("n"))

    def u_rel(field: str):
        return (
            cust.groupBy(field)
            .agg(F.count(F.lit(1)).alias("f"))
            .agg(
                F.sum(F.col("f") * (F.col("f") - 1)).alias(f"coll_{field}")
            )
        )

    us = (
        u_rel("segment")
        .crossJoin(F.broadcast(u_rel("band")))
        .crossJoin(F.broadcast(u_rel("suffix")))
        .crossJoin(F.broadcast(n_tot))
    )
    wcols = []
    for field, m in FS_M.items():
        u = (
            F.col(f"coll_{field}").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
        )
        wcols.append(
            F.round(F.log2(F.lit(m) / u) * F.lit(1000000.0), 0)
            .cast("long")
            .alias(f"wa_{field}")
        )
        wcols.append(
            F.round(
                F.log2(F.lit(1.0 - m) / (F.lit(1.0) - u))
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias(f"wd_{field}")
        )
    weights = us.select(*wcols)
    a = cust.alias("a")
    b = cust.alias("b")
    pairs = a.join(
        b,
        (F.col("a.nat") == F.col("b.nat")) & (F.col("a.k") < F.col("b.k")),
    ).crossJoin(F.broadcast(weights))
    score = None
    gammas = []
    for field in FS_M:
        g = (F.col(f"a.{field}") == F.col(f"b.{field}"))
        gammas.append(g.alias(f"agree_{field}"))
        term = F.when(g, F.col(f"wa_{field}")).otherwise(
            F.col(f"wd_{field}")
        )
        score = term if score is None else score + term
    return (
        pairs.select(
            F.col("a.k").alias("custkey_a"),
            F.col("b.k").alias("custkey_b"),
            *gammas,
            (score.cast("double") / F.lit(1000000.0)).alias("score_bits"),
            F.when(score >= FS_UPPER_I6, "link")
            .when(score >= FS_LOWER_I6, "possible")
            .otherwise("nonlink")
            .alias("band"),
        )
        .orderBy(
            F.col("score_bits").desc(), "custkey_a", "custkey_b"
        )
        .limit(FS_TOP)
    )


def _duck_fs_sql() -> str:
    u_ctes = ",\n".join(
        f"""u_{f} AS (
  SELECT CAST(sum(f * (f - 1)) AS BIGINT) AS coll_{f}
  FROM (SELECT {expr} AS v, count(*) AS f FROM cust GROUP BY 1)
)"""
        for f, expr in [
            ("segment", "segment"),
            ("band", "band"),
            ("suffix", "suffix"),
        ]
    )
    wexprs = []
    for field, m in FS_M.items():
        u = (
            f"(CAST(coll_{field} AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
        )
        wexprs.append(
            f"CAST(round(log2(CAST({m!r} AS DOUBLE) / {u})"
            f" * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS wa_{field}"
        )
        wexprs.append(
            f"CAST(round(log2(CAST({1.0 - m!r} AS DOUBLE)"
            f" / (CAST(1.0 AS DOUBLE) - {u}))"
            f" * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS wd_{field}"
        )
    terms = " + ".join(
        f"CASE WHEN a.{f} = b.{f} THEN w.wa_{f} ELSE w.wd_{f} END"
        for f in FS_M
    )
    gammas = ", ".join(f"a.{f} = b.{f} AS agree_{f}" for f in FS_M)
    return f"""
WITH cust AS (
  SELECT c_custkey AS k, c_nationkey AS nat, c_mktsegment AS segment,
    CAST(floor(c_acctbal / CAST(100.0 AS DOUBLE)) AS BIGINT) AS band,
    c_custkey % 100 AS suffix
  FROM customer
),
ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cust),
{u_ctes},
weights AS (
  SELECT {', '.join(wexprs)}
  FROM u_segment CROSS JOIN u_band CROSS JOIN u_suffix CROSS JOIN ntot
),
scored AS (
  SELECT a.k AS custkey_a, b.k AS custkey_b, {gammas},
    ({terms}) AS score_i6
  FROM cust a
  JOIN cust b ON b.nat = a.nat AND a.k < b.k
  CROSS JOIN weights w
)
SELECT custkey_a, custkey_b, {', '.join('agree_' + f for f in FS_M)},
  CAST(score_i6 AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS score_bits,
  CASE WHEN score_i6 >= {FS_UPPER_I6} THEN 'link'
       WHEN score_i6 >= {FS_LOWER_I6} THEN 'possible'
       ELSE 'nonlink' END AS band
FROM scored
ORDER BY score_bits DESC, custkey_a, custkey_b
LIMIT {FS_TOP}
"""


ORACLE["fs_linkage_scores"] = _duck_fs_sql()
QUERIES["fs_linkage_scores"] = fs_linkage_scores


def _star_components(edges: DataFrame) -> DataFrame:
    """Connected components by the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the two-phase form SCALE.md documented as the scale
    lever over ``_propagate_min_labels``: min-label propagation moves a
    label ONE edge per round (rounds ≈ component diameter — the
    semantic dup graph is chains), while large-star rewires every node
    past its neighbor's neighborhood minimum, HALVING chain distances
    per round (rounds ≈ log diameter). Same fixpoint: every node
    labeled with its component minimum, so the callers' oracles are
    untouched.

    Each round is two groupBy+join passes over the EDGE relation (vs
    one over the label relation before) — fewer, slightly heavier
    rounds; at cluster scale rounds are the barrier cost that matters.
    Convergence = the directed star set literally stops changing — an
    EXACT set-equality test, not a checksum: a checksum collision
    between different consecutive edge sets would terminate early and
    silently emit wrong labels. Round 14 folds the test INTO the
    round's checkpoint job: the new distinct star set left-joins the
    previous round's (both tiny, co-partitioned on the join key), and
    ``checkpoint_with_metrics`` observes (row count, rows absent from
    the previous set). n == prev_n AND n_new == 0 over two DISTINCT
    sets ⟺ set equality — the same decision the old count() +
    one-way exceptAll pair made, at zero extra jobs per round (the old
    form paid one count job per round plus an exceptAll job whenever
    consecutive counts matched).

    Input: SYMMETRIC edge relation (doc_id_1, doc_id_2). Output:
    (doc_id, cluster_id = component min).
    """
    u, v = F.col("doc_id_1"), F.col("doc_id_2")
    nodes = edges.select(u.alias("doc_id")).distinct().localCheckpoint()
    sym = edges.filter(u != v).distinct().localCheckpoint()
    prev_small, prev_n = None, -1
    cur = sym  # symmetric at loop entry of large-star
    while True:
        # large-star: every neighbor v > u hooks to m(u) = min(Γ(u) ∪ u)
        mins = cur.groupBy("doc_id_1").agg(
            F.least(F.min("doc_id_2"), F.col("doc_id_1")).alias("m")
        )
        large = (
            cur.join(mins, "doc_id_1")
            .filter(v > u)
            .select(v.alias("doc_id_1"), F.col("m").alias("doc_id_2"))
            .distinct()
        )
        # small-star over the directed big→small output: hook u and all
        # its smaller neighbors to the smallest of them
        smin = large.groupBy("doc_id_1").agg(
            F.min("doc_id_2").alias("mm")
        )
        joined = large.join(smin, "doc_id_1")
        small_plan = (
            joined.filter(F.col("doc_id_2") > F.col("mm"))
            .select(
                F.col("doc_id_2").alias("doc_id_1"),
                F.col("mm").alias("doc_id_2"),
            )
            .unionByName(
                joined.select("doc_id_1", F.col("mm").alias("doc_id_2"))
            )
            .distinct()
        )
        if prev_small is not None:
            # mark rows absent from the previous round's set — the
            # membership probe rides inside the checkpoint job
            small_plan = small_plan.join(
                prev_small.select(
                    "doc_id_1", "doc_id_2", F.lit(True).alias("_seen")
                ),
                ["doc_id_1", "doc_id_2"],
                "left",
            )
        else:
            small_plan = small_plan.withColumn("_seen", F.lit(False))
        small, m = checkpoint_with_metrics(
            small_plan,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.when(F.col("_seen"), 0).otherwise(1)), F.lit(0)
            ).alias("n_new"),
        )
        small = small.select("doc_id_1", "doc_id_2")
        n = m["n"]
        if n == prev_n and m["n_new"] == 0:
            roots = small.select(
                u.alias("doc_id"), v.alias("cluster_id")
            )
            return nodes.join(roots, "doc_id", "left").select(
                "doc_id",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            )
        prev_small, prev_n = small, n
        # re-symmetrize for the next large-star
        cur = small.unionByName(
            small.select(v.alias("doc_id_1"), u.alias("doc_id_2"))
        )


# ---------------------------------------------------------------------------
# incremental MinHash-LSH maintenance — daily-batch near-dup probing
# ---------------------------------------------------------------------------


def incremental_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    broadcast_max_bands: int | None = None,
) -> DataFrame:
    """Incremental near-dup maintenance: the near-dup counterpart of
    ``incremental_dedup`` — new-batch documents (doc_id %
    ``INCREMENT_MOD`` >= 8, the same 80/20 split) probe the EXISTING
    corpus's band buckets, never re-mining old×old. This is the
    operator a daily 100 TB ingest actually runs: candidate volume is
    |new bands| × bucket occupancy, proportional to the BATCH, not the
    corpus, and at scale the corpus-side ``(seed, mh, doc_id)`` band
    table is a maintained sink keyed by (seed, mh) so each probe is an
    index lookup — here both sides derive from one signature relation.

    Self-defending broadcast (round-9 ADVICE): "the batch band table is
    tiny" holds only while |batch| × MINHASH_K fits a broadcast — the
    fixed 80/20 test split replayed at 100 TB would broadcast ~20 TB of
    bands. Default (``broadcast_max_bands=None``): NO hint — the join
    strategy is size-driven, so AQE broadcasts the band table when its
    RUNTIME size is actually small and falls back to a shuffle join on
    (seed, mh) when it isn't (the same plan a corpus-side keyed sink
    would serve as index lookups) — and query construction stays
    plan-only, no eager scan. Pipelines that run with AQE disabled pass
    an explicit ``broadcast_max_bands`` threshold instead: the guard
    then counts the batch docs (one column-pruned doc-id scan) and
    hints the probe joins only below it (~24 B/band row → 1M rows is
    ~24 MB). ``tests/test_round9.py`` pins both explicit regimes.

    Per new doc the verdict is ``dup_of_corpus`` (a verified pair at
    the family threshold with an ingested doc), else ``dup_in_batch``
    (a verified pair with a SMALLER-id batch member — the chain head
    stays fresh, the deterministic canonical rule), else ``fresh``.
    Candidates are verified with the family's exact-jaccard kernel;
    ``tests/test_round8.py`` pins union-equivalence with the full
    ``minhash_lsh_pairs`` mining restricted to pairs touching the new
    batch (band collision is symmetric, so incremental probing loses
    nothing).
    """
    if broadcast_max_bands is None:
        hint = lambda df: df  # noqa: E731 — size-driven (AQE) regime
    else:
        n_batch_docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % INCREMENT_MOD >= 8)
            .count()
        )
        probe_fits = n_batch_docs * MINHASH_K <= broadcast_max_bands
        hint = F.broadcast if probe_fits else (lambda df: df)
    sh = _persist_shingles(_shingles(spark, sf_dir))
    sig, _ = _minhash_sig_cands(sh)
    long = _minhash_long(sig)
    new_l = long.filter(F.col("doc_id") % INCREMENT_MOD >= 8)
    old_l = long.filter(F.col("doc_id") % INCREMENT_MOD < 8)
    cross = (
        old_l.alias("b")
        .join(
            hint(new_l.alias("a")),
            (F.col("a.seed") == F.col("b.seed"))
            & (F.col("a.mh") == F.col("b.mh")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
    )
    intra = (
        new_l.alias("a")
        .join(
            hint(new_l.alias("b")),
            (F.col("a.seed") == F.col("b.seed"))
            & (F.col("a.mh") == F.col("b.mh"))
            & (F.col("b.doc_id") < F.col("a.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
    )
    cands = cross.unionByName(intra).distinct()
    verified = _jaccard_verify(
        cands, sh, sizes=sig.select("doc_id", "n")
    ).filter(F.col("jaccard") >= JACCARD_MINHASH_THRESHOLD)
    peer_is_corpus = (F.col("doc_id_2") % INCREMENT_MOD < 8).cast("int")
    ev = verified.groupBy(F.col("doc_id_1").alias("doc_id")).agg(
        F.sum(peer_is_corpus).alias("n_corpus_dups"),
        F.sum(1 - peer_is_corpus).alias("n_batch_dups"),
    )
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % INCREMENT_MOD >= 8)
        .select("doc_id")
    )
    return (
        base.join(ev, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.coalesce("n_corpus_dups", F.lit(0)) > 0, "dup_of_corpus")
            .when(F.coalesce("n_batch_dups", F.lit(0)) > 0, "dup_in_batch")
            .otherwise("fresh")
            .alias("verdict"),
            F.coalesce("n_corpus_dups", F.lit(0)).alias("n_corpus_dups"),
            F.coalesce("n_batch_dups", F.lit(0)).alias("n_batch_dups"),
        )
        .orderBy("doc_id")
    )


def _duck_incremental_minhash_sql() -> str:
    """Oracle twin: the shared shingle/sig/long CTE text, asymmetric
    probe joins (new→corpus and new→smaller-batch-peer only), the
    family's exact-jaccard verify, then the verdict fold."""
    mins = ",\n    ".join(
        f"min(({_MH_A[s]} * h32 + {_MH_B[s]}) % {MINHASH_PRIME}) AS mh{s}"
        for s in range(MINHASH_K)
    )
    arms = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {s} AS seed, mh{s} AS mh FROM sig"
        for s in range(MINHASH_K)
    )
    return f"""
WITH {_DUCK_SHINGLES},
hashed AS (
  SELECT doc_id, h % 4294967296 AS h32 FROM shingles
),
sig AS (
  SELECT doc_id,
    {mins}
  FROM hashed GROUP BY doc_id
),
long AS (
  {arms}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
  FROM long a JOIN long b ON a.seed = b.seed AND a.mh = b.mh
  WHERE a.doc_id % {INCREMENT_MOD} >= 8
    AND (b.doc_id % {INCREMENT_MOD} < 8
         OR (b.doc_id % {INCREMENT_MOD} >= 8 AND b.doc_id < a.doc_id))
),
{_DUCK_JACCARD_VERIFY.lstrip()},
ev AS (
  SELECT doc_id_1 AS doc_id,
    CAST(sum(CASE WHEN doc_id_2 % {INCREMENT_MOD} < 8 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_corpus_dups,
    CAST(sum(CASE WHEN doc_id_2 % {INCREMENT_MOD} >= 8 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_batch_dups
  FROM verified
  WHERE jaccard >= {JACCARD_MINHASH_THRESHOLD}
  GROUP BY 1
)
SELECT d.doc_id,
  CASE WHEN coalesce(e.n_corpus_dups, 0) > 0 THEN 'dup_of_corpus'
       WHEN coalesce(e.n_batch_dups, 0) > 0 THEN 'dup_in_batch'
       ELSE 'fresh' END AS verdict,
  CAST(coalesce(e.n_corpus_dups, 0) AS BIGINT) AS n_corpus_dups,
  CAST(coalesce(e.n_batch_dups, 0) AS BIGINT) AS n_batch_dups
FROM documents d LEFT JOIN ev e ON e.doc_id = d.doc_id
WHERE d.doc_id % {INCREMENT_MOD} >= 8
ORDER BY d.doc_id
"""


ORACLE["incremental_minhash_lsh"] = _duck_incremental_minhash_sql()
QUERIES["incremental_minhash_lsh"] = incremental_minhash_lsh


def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Size distribution of the near-dup clusters — the corpus-health
    readout a dedup run ships (a heavy tail of giant clusters means
    boilerplate/template contamination; all-singletons means the
    threshold is too tight). Reuses ``near_dup_clusters``' fixpoint
    (shared-helper rule) and folds it twice: cluster -> size,
    size -> n_clusters, plus each size bucket's doc share in exact
    basis points. Both aggregates reuse one partitioning. The label
    relation holds only docs that appear in a near-dup EDGE — bounded
    by near-dup volume, not |docs| — but a boilerplate-heavy corpus can
    make that a large fraction of the corpus, so the join strategy is
    left size-driven (no broadcast hint; AQE broadcasts it when it
    really is small)."""
    labeled = _near_dup_cluster_labels(spark, sf_dir).withColumnRenamed(
        "doc_id", "c_doc_id"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = docs.join(
        labeled, docs.doc_id == labeled.c_doc_id, "left"
    ).select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    n_docs = docs.count()  # 1 scalar off the dimension-sized doc-id scan
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            # doc share in exact basis points: integer-position round of
            # (docs_in_bucket / corpus) * 1e4 — engines agree on integer
            # halves (CLAUDE.md derived-arithmetic rule)
            (
                F.round(
                    (F.col("cluster_size") * F.col("n_clusters")).cast(
                        "double"
                    )
                    / F.lit(float(n_docs))
                    * 10000.0,
                    0,
                )
                / 10000.0
            ).alias("doc_share"),
        )
        .orderBy("cluster_size")
    )


def _duck_cluster_histogram_sql() -> str:
    """Histogram tail over the SAME recursive-CTE fixpoint text the
    ``near_dup_clusters`` oracle runs."""
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
clusters AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
  FROM reach GROUP BY a
),
all_docs AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
),
csizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM all_docs GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM all_docs)
SELECT s.cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
  CAST(s.cluster_size * count(*) AS BIGINT) AS n_docs,
  round(CAST(s.cluster_size * count(*) AS DOUBLE) / CAST(t.n AS DOUBLE)
        * 10000.0, 0) / 10000.0 AS doc_share
FROM csizes s CROSS JOIN tot t
GROUP BY s.cluster_size, t.n
ORDER BY s.cluster_size
"""


ORACLE["dedup_cluster_size_histogram"] = _duck_cluster_histogram_sql()
QUERIES["dedup_cluster_size_histogram"] = dedup_cluster_size_histogram


# ---------------------------------------------------------------------------
# MinHash band tuning — the (b, r) S-curve audit
# ---------------------------------------------------------------------------

# factorizations of the K=8 signature into (bands, rows-per-band)
BAND_CONFIGS = ((8, 1), (4, 2), (2, 4), (1, 8))


def _band_expected_p(r: int, b: int) -> float:
    """Theoretical collision probability at the family threshold:
    1 − (1 − t^r)^b, rounded 8dp in PYTHON and injected into BOTH
    engines as a literal (the CLAUDE.md log/trig-constant rule — no
    in-query pow on either side)."""
    from ..functions.rounding import round_half_up

    t = JACCARD_MINHASH_THRESHOLD
    return round_half_up(1.0 - (1.0 - t**r) ** b, 8)


def minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-curve audit for every (bands, rows) factorization of the K=8
    MinHash signature — the knob a 100 TB dedup run tunes BEFORE
    committing to a banding scheme: more rows per band sharpens the
    S-curve (fewer false candidates) but risks recall. Per config:
    theoretical collision probability at the family threshold, realized
    candidate count, true dups caught, recall and precision in exact
    basis points.

    One pass does all four configs: the r=1 candidate set is a SUPERSET
    of every coarser config's (a full band match implies each
    constituent hash matches), so exact jaccard is verified ONCE on the
    r=1 pairs, the signatures are SEMI-JOINED down to docs that appear
    in some candidate pair before broadcasting back onto the pairs
    (what's broadcast is candidate-bounded, never corpus-sized),
    per-pair hash-match flags are row-local ints, and each config's
    membership is an OR-of-AND fold over those flags inside ONE 1-row
    aggregate, unpivoted to 4 rows. Recall is measured against the
    r=1-discoverable true dups (pairs no single hash catches are
    invisible to every config — documented estimator bias, shared by
    any banding of the same signature)."""
    sh = _persist_shingles(_shingles(spark, sf_dir))
    sig, cands = _minhash_sig_cands(sh)
    # candidate-bounded relation with THREE consumers below (verify,
    # id semi-join, flag join) — persist() so the band self-join isn't
    # executed once per consumer (construction-lazy, round 10)
    cands = cands.persist()
    verified = _jaccard_verify(cands, sh, sizes=sig.select("doc_id", "n"))
    cand_ids = (
        cands.select(F.col("doc_id_1").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_id_2").alias("doc_id")))
        .distinct()
    )
    sig_c = sig.join(cand_ids, "doc_id", "semi")
    s1 = sig_c.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(MINHASH_K)],
    )
    s2 = sig_c.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(MINHASH_K)],
    )
    # LEFT join the jaccard evidence onto the FULL candidate set: a
    # band-colliding pair with zero shingle intersection never reaches
    # the verify kernel's inner join, but it IS a realized candidate
    # (probe cost paid) — dropping it would overstate precision
    flagged = (
        cands.join(F.broadcast(s1), cands.doc_id_1 == s1.d1)
        .join(F.broadcast(s2), cands.doc_id_2 == s2.d2)
        .join(
            verified.select("doc_id_1", "doc_id_2", "jaccard"),
            ["doc_id_1", "doc_id_2"],
            "left",
        )
        .select(
            F.coalesce(
                (F.col("jaccard") >= JACCARD_MINHASH_THRESHOLD).cast("int"),
                F.lit(0),
            ).alias("is_true"),
            *[
                (F.col(f"a{s}") == F.col(f"b{s}")).cast("int").alias(f"m{s}")
                for s in range(MINHASH_K)
            ],
        )
    )
    aggs = [F.sum("is_true").alias("n_true_total")]
    for b, r in BAND_CONFIGS:
        band_hit = None
        for band in range(b):
            conj = None
            for s in range(band * r, (band + 1) * r):
                conj = F.col(f"m{s}") if conj is None else conj * F.col(f"m{s}")
            band_hit = conj if band_hit is None else F.greatest(band_hit, conj)
        aggs.append(F.sum(band_hit).alias(f"cand_{b}_{r}"))
        aggs.append(
            F.sum(band_hit * F.col("is_true")).alias(f"true_{b}_{r}")
        )
    one = flagged.agg(*aggs)
    stack_args = ", ".join(
        f"{b}, {r}, CAST({_band_expected_p(r, b)!r} AS DOUBLE), "
        f"cand_{b}_{r}, true_{b}_{r}"
        for b, r in BAND_CONFIGS
    )
    rows = one.selectExpr(
        "n_true_total",
        f"stack({len(BAND_CONFIGS)}, {stack_args}) AS "
        "(bands, rows_per_band, expected_p_at_thr, n_candidates, n_true)",
    )
    bp = lambda num, den: F.when(  # noqa: E731
        den > 0, F.round(num.cast("double") / den.cast("double") * 10000.0, 0)
    ).otherwise(F.lit(0.0))
    return rows.select(
        F.col("bands").cast("int").alias("bands"),
        F.col("rows_per_band").cast("int").alias("rows_per_band"),
        "expected_p_at_thr",
        "n_candidates",
        "n_true",
        bp(F.col("n_true"), F.col("n_true_total")).alias("recall_bp"),
        bp(F.col("n_true"), F.col("n_candidates")).alias("precision_bp"),
    ).orderBy("rows_per_band")


def _duck_band_tuning_sql() -> str:
    flag_cols = ",\n    ".join(
        f"CAST(sa.mh{s} = sb.mh{s} AS INT) AS m{s}"
        for s in range(MINHASH_K)
    )
    agg_cols = ["CAST(sum(is_true) AS BIGINT) AS n_true_total"]
    for b, r in BAND_CONFIGS:
        bands = []
        for band in range(b):
            bands.append(
                " * ".join(f"m{s}" for s in range(band * r, (band + 1) * r))
            )
        hit = bands[0] if len(bands) == 1 else "greatest(" + ", ".join(bands) + ")"
        agg_cols.append(f"CAST(sum({hit}) AS BIGINT) AS cand_{b}_{r}")
        agg_cols.append(
            f"CAST(sum(({hit}) * is_true) AS BIGINT) AS true_{b}_{r}"
        )
    arms = "\n  UNION ALL\n  ".join(
        f"SELECT CAST({b} AS INT) AS bands, CAST({r} AS INT) AS rows_per_band, "
        f"CAST({_band_expected_p(r, b)!r} AS DOUBLE) AS expected_p_at_thr, "
        f"cand_{b}_{r} AS n_candidates, true_{b}_{r} AS n_true, n_true_total "
        "FROM agg"
        for b, r in BAND_CONFIGS
    )
    return f"""
WITH {_duck_minhash_ctes()},
flagged AS (
  SELECT CAST(coalesce(v.jaccard >= {JACCARD_MINHASH_THRESHOLD}, FALSE)
              AS INT) AS is_true,
    {flag_cols}
  FROM cands c
  JOIN sig sa ON sa.doc_id = c.doc_id_1
  JOIN sig sb ON sb.doc_id = c.doc_id_2
  LEFT JOIN verified v
    ON v.doc_id_1 = c.doc_id_1 AND v.doc_id_2 = c.doc_id_2
),
agg AS (
  SELECT {", ".join(agg_cols)} FROM flagged
),
rows_out AS (
  {arms}
)
SELECT bands, rows_per_band, expected_p_at_thr, n_candidates, n_true,
  CASE WHEN n_true_total > 0 THEN
    round(CAST(n_true AS DOUBLE) / CAST(n_true_total AS DOUBLE) * 10000.0, 0)
  ELSE 0.0 END AS recall_bp,
  CASE WHEN n_candidates > 0 THEN
    round(CAST(n_true AS DOUBLE) / CAST(n_candidates AS DOUBLE) * 10000.0, 0)
  ELSE 0.0 END AS precision_bp
FROM rows_out
ORDER BY rows_per_band
"""


ORACLE["minhash_band_tuning"] = _duck_band_tuning_sql()
QUERIES["minhash_band_tuning"] = minhash_band_tuning
