"""Deterministic, oracle-checkable sketches — the mergeable-summary
family a 100 TB profiler actually runs (distinct-count, set overlap,
frequency estimation) built so BOTH engines compute bit-identical
results.

Spark's built-in sketches (``approx_count_distinct`` HLL++,
``percentile_approx`` t-digest, ``count_min_sketch``) are the production
path but their binary layouts are engine-private: DuckDB cannot
reproduce them, so they can only get rows-only checks. These operators
instead implement the same three sketch ideas from their md5-derived
hash primitives (`functions/hashing.py`), which ARE cross-engine
reproducible — the estimates themselves hash-match the DuckDB oracle,
and each output row carries the exact value next to the estimate so the
error bound is visible in the result, not just in a test.

Reference parity: the reference profiles its table driver-side with
pandas ``nunique``/``value_counts`` (`app_test.py:86-125`); these are
the bounded-memory, mergeable equivalents of those profiles.

  * **KMV (k-minimum-values) distinct count** — keep the k smallest
    hashes of a set; if the k-th smallest is h_k on an M-sized hash
    domain, the set has ≈ (k-1)·M/h_k members. Mergeable (union = merge
    the k-min lists), 8·k bytes per group, rel. error ~1/√k.
  * **KMV set overlap (theta-sketch style)** — the k smallest hashes of
    a UNION of two sets are a uniform sample of it: the fraction also
    present in both sets estimates Jaccard, and × the union estimate
    gives the intersection size. This is how you size a join / measure
    audience overlap without shuffling either full set.
  * **Count-min sketch** — d×w counter matrix; each key adds its count
    to one bucket per row (d independent hashes), point estimate = min
    over its d buckets. Always an over-estimate (one-sided error ≤
    2N/w with prob 1-(1/2)^d); fixed d·w·8 bytes regardless of key
    cardinality.

At 100 TB: every one of these is a partial-aggregatable shape — the
per-partition pieces are tiny (k values / d·w counters) and merge
associatively, so the shuffle carries sketches, not raw keys. The KMV
window form used here (row_number over hash) shuffles the distinct keys
once at small SF; the scale path swaps it for the same two-level
aggregate the docstrings of `dedup_exact_summary` describe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    duck_md5_int,
    duck_md5_int60,
    md5_int60_sql,
    md5_int_sql,
)
from ..functions.rounding import round_half_up
from ..sources.registry import load_table

KMV_K = 64  # rel. error ~ 1/sqrt(64) = 12.5%
HASH_DOMAIN = float(2**60)  # md5_int60 range; 63*2^60 is double-exact
CMS_DEPTH = 4
# narrow enough that bucket collisions actually occur at sf0.01 (~150
# users / 64 buckets) — the overcount column must demonstrate the
# sketch's one-sided error, not a trivially-exact regime
CMS_WIDTH = 64
CMS_TOP = 10


def _user_hash_spark() -> F.Column:
    return F.expr(md5_int60_sql("CAST(user_id AS STRING)"))


_DUCK_USER_HASH = duck_md5_int60("CAST(user_id AS VARCHAR)")


def kmv_distinct_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user estimate per event type, next to the exact
    count and the realized relative error.

    Plan: one distinct on (event_type, user_id) feeds both the exact
    count and the k-smallest-hash stats; if a group holds fewer than k
    members the sketch has seen everything and reports exactly.
    """
    ev = load_table(spark, sf_dir, "events")
    hashed = (
        ev.select("event_type", "user_id")
        .distinct()
        .select("event_type", _user_hash_spark().alias("h"))
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy("h")
    )
    kstats = (
        hashed.withColumn("rn", rn)
        .filter(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_k"), F.max("h").alias("h_k"))
    )
    exact = hashed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_distinct_exact")
    )
    est = (
        F.when(F.col("n_k") < KMV_K, F.col("n_k").cast("double"))
        .otherwise(
            F.lit(float(KMV_K - 1) * HASH_DOMAIN)
            / F.col("h_k").cast("double")
        )
    )
    return (
        exact.join(kstats, "event_type")
        .select(
            "event_type",
            "n_distinct_exact",
            F.round(est, 4).alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("n_distinct_exact"))
                / F.col("n_distinct_exact"),
                4,
            ).alias("rel_error"),
        )
        .orderBy("event_type")
    )


def kmv_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style overlap of two activity sets — the
    (user, active-day) pairs with a click vs those with a purchase: the
    k smallest hashes of the UNION are a uniform sample whose in-both
    fraction estimates Jaccard; × the KMV union estimate gives the
    intersection size. One row out, exact values alongside.

    The set element is (user, day), not bare user — at any SF the
    synthetic users all do every event type eventually, which would
    make a user-level overlap degenerately 1.0; day-granular activity
    sets overlap partially, which is also the realistic audience-overlap
    unit (DAU segments).
    """
    ev = load_table(spark, sf_dir, "events")
    flags = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias(
                "in_click"
            ),
            F.max((F.col("event_type") == "purchase").cast("int")).alias(
                "in_purchase"
            ),
        )
        .withColumn(
            "h",
            F.expr(
                md5_int60_sql(
                    "concat(CAST(user_id AS STRING), ':', "
                    "CAST(d AS STRING))"
                )
            ),
        )
    )
    sample = flags.orderBy("h").limit(KMV_K)
    samp_stats = sample.agg(
        F.count(F.lit(1)).alias("n_k"),
        F.max("h").alias("h_k"),
        F.sum(F.col("in_click") * F.col("in_purchase")).alias("m_both"),
    )
    exact = flags.agg(
        F.count(F.lit(1)).alias("union_exact"),
        F.sum(F.col("in_click") * F.col("in_purchase")).alias(
            "inter_exact"
        ),
    )
    union_est = (
        F.when(F.col("n_k") < KMV_K, F.col("n_k").cast("double"))
        .otherwise(
            F.lit(float(KMV_K - 1) * HASH_DOMAIN)
            / F.col("h_k").cast("double")
        )
    )
    jacc_est = F.col("m_both") / F.col("n_k")
    return exact.crossJoin(F.broadcast(samp_stats)).select(
        "union_exact",
        "inter_exact",
        F.round(
            F.col("inter_exact") / F.col("union_exact"), 4
        ).alias("jaccard_exact"),
        F.round(union_est, 4).alias("union_kmv"),
        F.round(jacc_est, 4).alias("jaccard_kmv"),
        F.round(jacc_est * union_est, 4).alias("inter_kmv"),
    ).orderBy("union_exact")


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the top-10 busiest
    users, next to their exact event counts. The over-count column makes
    the sketch's one-sided error a visible output: cms ≥ exact always,
    with the gap bounded by colliding traffic / width.

    Plan: per-user exact counts once, then each user lands in one
    bucket per sketch row (d engine-neutral hashes); bucket totals are
    the sketch; a user's estimate is the min of its d bucket totals.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    keyed = counts.select(
        "user_id",
        "c",
        F.explode(
            F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
        ).alias("i"),
    ).withColumn(
        "bucket",
        F.expr(
            md5_int60_sql(
                "concat(CAST(user_id AS STRING), ':', CAST(i AS STRING))"
            )
        )
        % CMS_WIDTH,
    )
    bucket_tot = keyed.groupBy("i", "bucket").agg(
        F.sum("c").alias("tot")
    )
    est = (
        keyed.join(bucket_tot, ["i", "bucket"])
        .groupBy("user_id")
        .agg(
            F.max("c").alias("n_events_exact"),
            F.min("tot").alias("cms_estimate"),
        )
    )
    top = est.orderBy(
        F.desc("n_events_exact"), "user_id"
    ).limit(CMS_TOP)
    rank = F.row_number().over(
        Window.orderBy(F.desc("n_events_exact"), "user_id")
    )
    return (
        top.withColumn("rank", rank)
        .select(
            "rank",
            "user_id",
            "n_events_exact",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("n_events_exact")).alias(
                "overcount"
            ),
        )
        .orderBy("rank")
    )


_KMV_EST = (
    f"CASE WHEN n_k < {KMV_K} THEN CAST(n_k AS DOUBLE) "
    f"ELSE {KMV_K - 1} * pow(2, 60) / CAST(h_k AS DOUBLE) END"
)

ORACLE: dict[str, str] = {
    "kmv_distinct_by_type": f"""
WITH hashed AS (
  SELECT DISTINCT event_type, user_id FROM events
),
hs AS (
  SELECT event_type, {_DUCK_USER_HASH} AS h FROM hashed
),
ranked AS (
  SELECT event_type, h,
    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hs
),
kstats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_k, max(h) AS h_k
  FROM ranked WHERE rn <= {KMV_K} GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_distinct_exact
  FROM hs GROUP BY event_type
)
SELECT e.event_type, n_distinct_exact,
  round({_KMV_EST}, 4) AS kmv_estimate,
  round(abs({_KMV_EST} - n_distinct_exact) / n_distinct_exact, 4)
    AS rel_error
FROM exact e JOIN kstats k ON e.event_type = k.event_type
ORDER BY 1
""",
    "kmv_user_overlap": f"""
WITH flags AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
    CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
      AS in_click,
    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      AS in_purchase
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY user_id, CAST(ts AS DATE)
),
hashed AS (
  SELECT *, {duck_md5_int60(
      "CAST(user_id AS VARCHAR) || ':' || CAST(d AS VARCHAR)"
  )} AS h FROM flags
),
sample AS (
  SELECT * FROM hashed ORDER BY h LIMIT {KMV_K}
),
samp_stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_k, max(h) AS h_k,
    CAST(sum(in_click * in_purchase) AS BIGINT) AS m_both
  FROM sample
),
exact AS (
  SELECT CAST(count(*) AS BIGINT) AS union_exact,
    CAST(sum(in_click * in_purchase) AS BIGINT) AS inter_exact
  FROM hashed
)
SELECT union_exact, inter_exact,
  round(CAST(inter_exact AS DOUBLE) / union_exact, 4) AS jaccard_exact,
  round({_KMV_EST}, 4) AS union_kmv,
  round(CAST(m_both AS DOUBLE) / n_k, 4) AS jaccard_kmv,
  round((CAST(m_both AS DOUBLE) / n_k) * ({_KMV_EST}), 4) AS inter_kmv
FROM exact CROSS JOIN samp_stats
ORDER BY union_exact
""",
    "cms_heavy_hitters": f"""
WITH counts AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
),
keyed AS (
  SELECT user_id, c, i,
    {duck_md5_int60(
        "CAST(user_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)"
    )} % {CMS_WIDTH} AS bucket
  FROM counts
  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) rows_
),
bucket_tot AS (
  SELECT i, bucket, CAST(sum(c) AS BIGINT) AS tot
  FROM keyed GROUP BY i, bucket
),
est AS (
  SELECT k.user_id,
    max(k.c) AS n_events_exact,
    min(b.tot) AS cms_estimate
  FROM keyed k JOIN bucket_tot b ON k.i = b.i AND k.bucket = b.bucket
  GROUP BY k.user_id
),
top AS (
  SELECT *,
    row_number() OVER (ORDER BY n_events_exact DESC, user_id) AS rank
  FROM est
  ORDER BY n_events_exact DESC, user_id LIMIT {CMS_TOP}
)
SELECT rank, user_id, n_events_exact, cms_estimate,
  cms_estimate - n_events_exact AS overcount
FROM top
ORDER BY rank
""",
}

QUERIES = {
    "kmv_distinct_by_type": kmv_distinct_by_type,
    "kmv_user_overlap": kmv_user_overlap,
    "cms_heavy_hitters": cms_heavy_hitters,
}


# ---------------------------------------------------------------------------
# Bloom filter build + measured-vs-predicted false-positive-rate audit
# ---------------------------------------------------------------------------

BLOOM_M = 4096  # bits — ~4 bits/member at sf0.01 so the FPR is interior
BLOOM_K = 3  # hash functions


def bloom_filter_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build an m-bit/k-hash Bloom filter over the ordering customers,
    probe it with a GUARANTEED-negative key set (the customer keys
    shifted into a disjoint namespace — in this data every customer has
    an order, so a natural negative set doesn't exist), and report the
    MEASURED false-positive rate next to the fill-ratio prediction
    (fpr ≈ fill^k) — the audit a pipeline runs before trusting a Bloom
    side-filter to prune a 100 TB join (Spark's own runtime bloom-join
    pruning is pinned in ``tests/test_scale.py``; this operator makes
    the filter itself a first-class, inspectable relation).

    Shape at scale: the build is explode(k positions) → distinct — a
    partial-aggregating shuffle whose output is bounded by m (a
    CONSTANT, here 4096 rows ≈ the filter's bit array); the m-bounded
    bit table then BROADCASTS to the probe side, so probing never
    shuffles the probe relation (one hash-agg by probe key follows, on
    k-row groups). Bits are md5-derived (cross-engine rule) — Spark's
    native ``bloom_filter_agg`` binary layout is engine-private, same
    reason the KMV/CMS family avoids HLL++/t-digest.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    pos_arr = (
        "transform(sequence(0, {k}), j -> "
        "{h} % {m})"
    ).format(
        k=BLOOM_K - 1,
        m=BLOOM_M,
        h=md5_int_sql(
            "concat('bf', CAST(j AS STRING), '_', CAST(key AS STRING))"
        ),
    )
    members = orders.select(
        F.col("o_custkey").alias("key")
    ).distinct()
    bits = (
        members.select(F.explode(F.expr(pos_arr)).alias("pos"))
        .distinct()
    )
    probes = cust.select(
        (F.col("c_custkey") + F.lit(1_000_000_000)).alias("key")
    )
    probe_pos = probes.select("key", F.explode(F.expr(pos_arr)).alias("pos"))
    hit = (
        probe_pos.join(F.broadcast(bits), "pos")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == BLOOM_K)
    )
    n_members = members.agg(F.count(F.lit(1)).alias("n_members"))
    n_bits = bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    n_probes = probes.agg(F.count(F.lit(1)).alias("n_probes"))
    n_fp = hit.agg(F.count(F.lit(1)).alias("n_false_positives"))
    fill = F.col("n_bits_set") / F.lit(float(BLOOM_M))
    return (
        n_members.crossJoin(n_bits).crossJoin(n_probes).crossJoin(n_fp)
        .select(
            "n_members",
            "n_bits_set",
            F.lit(BLOOM_M).alias("m_bits"),
            F.lit(BLOOM_K).alias("k_hashes"),
            "n_probes",
            "n_false_positives",
            F.round(
                F.col("n_false_positives")
                / F.nullif(F.col("n_probes").cast("double"), F.lit(0.0)),
                4,
            ).alias("measured_fpr"),
            F.round(fill * fill * fill, 4).alias("predicted_fpr"),
        )
    )


ORACLE["bloom_filter_fpr_audit"] = f"""
WITH members AS (
  SELECT DISTINCT o_custkey AS key FROM orders
),
bits AS (
  SELECT DISTINCT
    {duck_md5_int("'bf' || CAST(u.j AS VARCHAR) || '_' || CAST(key AS VARCHAR)")}
      % {BLOOM_M} AS pos
  FROM members CROSS JOIN UNNEST(generate_series(0, {BLOOM_K - 1})) u(j)
),
probes AS (
  SELECT c_custkey + 1000000000 AS key FROM customer
),
probe_pos AS (
  SELECT key,
    {duck_md5_int("'bf' || CAST(u.j AS VARCHAR) || '_' || CAST(key AS VARCHAR)")}
      % {BLOOM_M} AS pos
  FROM probes CROSS JOIN UNNEST(generate_series(0, {BLOOM_K - 1})) u(j)
),
fp AS (
  SELECT p.key FROM probe_pos p JOIN bits b ON b.pos = p.pos
  GROUP BY p.key HAVING count(*) = {BLOOM_K}
)
SELECT
  CAST((SELECT count(*) FROM members) AS BIGINT) AS n_members,
  CAST((SELECT count(*) FROM bits) AS BIGINT) AS n_bits_set,
  {BLOOM_M} AS m_bits,
  {BLOOM_K} AS k_hashes,
  CAST((SELECT count(*) FROM probes) AS BIGINT) AS n_probes,
  CAST((SELECT count(*) FROM fp) AS BIGINT) AS n_false_positives,
  round(CAST((SELECT count(*) FROM fp) AS DOUBLE)
        / (SELECT count(*) FROM probes), 4) AS measured_fpr,
  round((CAST((SELECT count(*) FROM bits) AS DOUBLE) / {BLOOM_M})
        * (CAST((SELECT count(*) FROM bits) AS DOUBLE) / {BLOOM_M})
        * (CAST((SELECT count(*) FROM bits) AS DOUBLE) / {BLOOM_M}), 4)
    AS predicted_fpr
"""
QUERIES["bloom_filter_fpr_audit"] = bloom_filter_fpr_audit


# ---------------------------------------------------------------------------
# equi-width histogram quantile estimate vs exact percentile
# ---------------------------------------------------------------------------

HIST_BUCKETS = 64
HIST_PCTS = (0.5, 0.9, 0.99)


def histogram_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram quantiles with their error against the exact
    percentile — the bounded-memory quantile shape (64 counters per
    partition, merge = vector add) audited the same way the KMV/CMS
    entries are: estimate NEXT TO truth in one result.

    The estimator is the classic equi-width inverse-CDF walk: rank
    r = ⌈p·N⌉ lands in the first bucket whose cumulative count reaches
    r; linear interpolation inside the bucket. Plan: ONE stats pass
    (min/max/count AND the exact comparison percentiles fused in a
    single aggregate) whose 1-row result is fetched driver-side and
    re-entered as literals — the fit-time-scalar pattern (``knn_ivf``),
    which keeps the bucketing scan literal-predicated (no broadcast, no
    nested-loop join) and the whole audit at two table passes. The walk
    runs on the 64-row histogram. ``percentile_approx``'s t-digest is
    the tighter production sketch but its layout is engine-private (the
    module-note rule) — this one is bit-reproducible in DuckDB, and the
    audit columns show exactly what the width-bound costs: |err| ≤
    bucket width by construction.
    """
    import math

    orders = load_table(spark, sf_dir, "orders")
    stats = orders.agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(f"percentile(o_totalprice, {p})").alias(f"ex_{i}")
            for i, p in enumerate(HIST_PCTS)
        ],
    ).collect()[0]
    lo, hi, n = stats["lo"], stats["hi"], stats["n"]
    width = (hi - lo) / float(HIST_BUCKETS)  # same double div as the oracle
    exacts = {p: stats[f"ex_{i}"] for i, p in enumerate(HIST_PCTS)}
    bucketed = orders.select(
        F.least(
            F.lit(HIST_BUCKETS - 1),
            F.floor((F.col("o_totalprice") - F.lit(lo)) / F.lit(width)),
        ).cast("int").alias("bucket")
    )
    hist = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "bucket",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before"),
    ).localCheckpoint()  # 64 rows; one walk per percentile below
    out = None
    for p in HIST_PCTS:
        r = math.ceil(p * n)  # identical double product + ceil as engines
        picked = (
            cum.filter(F.col("cum_before") + F.col("cnt") >= r)
            .orderBy("bucket")
            .limit(1)
            .select(
                F.lit(p).alias("p"),
                F.round(
                    F.lit(lo)
                    + F.lit(width)
                    * (
                        F.col("bucket")
                        + (F.lit(r) - F.col("cum_before")).cast("double")
                        / F.col("cnt").cast("double")
                    ),
                    2,
                ).alias("est_value"),
                F.lit(round_half_up(exacts[p], 2)).alias("exact_value"),
                F.lit(round_half_up(width, 2)).alias("bucket_width"),
            )
        )
        out = picked if out is None else out.union(picked)
    return out.select(
        "p",
        "est_value",
        "exact_value",
        F.round(F.abs(F.col("est_value") - F.col("exact_value")), 2).alias(
            "abs_err"
        ),
        "bucket_width",
    ).orderBy("p")


ORACLE["histogram_quantile_audit"] = f"""
WITH bounds AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi,
    CAST(count(*) AS BIGINT) AS n
  FROM orders
),
bucketed AS (
  SELECT CAST(least({HIST_BUCKETS - 1},
    floor((o_totalprice - b.lo)
          / ((b.hi - b.lo) / CAST({HIST_BUCKETS} AS DOUBLE)))) AS INT)
    AS bucket
  FROM orders CROSS JOIN bounds b
),
hist AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM bucketed GROUP BY bucket
),
cum AS (
  SELECT bucket, cnt,
    CAST(coalesce(sum(cnt) OVER (ORDER BY bucket
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cum_before
  FROM hist
),
pcts AS (
  SELECT unnest([{", ".join(f"CAST({p} AS DOUBLE)" for p in HIST_PCTS)}]) AS p
),
picked AS (
  SELECT p, bucket, cnt, cum_before FROM (
    SELECT pc.p, c.bucket, c.cnt, c.cum_before,
      row_number() OVER (PARTITION BY pc.p ORDER BY c.bucket) AS rn
    FROM pcts pc
    JOIN cum c CROSS JOIN bounds b
      ON c.cum_before + c.cnt >= ceil(pc.p * b.n)
  ) WHERE rn = 1
),
est AS (
  SELECT p.p,
    round(b.lo + ((b.hi - b.lo) / CAST({HIST_BUCKETS} AS DOUBLE))
      * (p.bucket + CAST(ceil(p.p * b.n) - p.cum_before AS DOUBLE)
                    / CAST(p.cnt AS DOUBLE)), 2) AS est_value,
    round((b.hi - b.lo) / CAST({HIST_BUCKETS} AS DOUBLE), 2) AS bucket_width
  FROM picked p CROSS JOIN bounds b
),
exacts AS (
  SELECT unnest([{", ".join(f"CAST({p} AS DOUBLE)" for p in HIST_PCTS)}]) AS p,
    unnest([{", ".join(f"quantile_cont(o_totalprice, {p})" for p in HIST_PCTS)}])
      AS exact
  FROM orders
)
SELECT e.p, e.est_value, round(x.exact, 2) AS exact_value,
  round(abs(e.est_value - round(x.exact, 2)), 2) AS abs_err,
  e.bucket_width
FROM est e JOIN exacts x ON x.p = e.p
ORDER BY e.p
"""
QUERIES["histogram_quantile_audit"] = histogram_quantile_audit


# ---------------------------------------------------------------------------
# HyperLogLog distinct n-gram cardinality (Flajolet et al. 2007)
# ---------------------------------------------------------------------------

HLL_B = 8  # register-index bits
HLL_M = 1 << HLL_B  # 256 registers; rel err ~ 1.04/sqrt(m) = 6.5%
HLL_W_BITS = 60 - HLL_B  # rank bits left in the 60-bit md5 hash
_HLL_W_DOM = 1 << HLL_W_BITS  # 2^52
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)  # bias constant, m >= 128
# alpha * m^2 * 2^52 folded into ONE python-evaluated double literal so
# both engines divide the identical numerator by the exact BIGINT sum
_HLL_NUMER = HLL_ALPHA * HLL_M * HLL_M * float(_HLL_W_DOM)
_HLL_LC_THRESHOLD = 2.5 * HLL_M  # linear-counting switchover


def hll_ngram_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-SHINGLE_N-gram cardinality per source plus
    the register-MERGED corpus row — the constant-memory answer to "how
    many distinct n-grams does each slice contribute", the sizing input
    for dedup planning and Heaps-law vocabulary budgeting. KMV
    (`kmv_distinct_by_type`) is the repo's other cardinality sketch;
    HLL is the production standard (256 bytes per scope vs KMV's k
    hashes, and registers merge with a plain max — shown here: the ALL
    row is max-merged FROM the per-source registers, never recomputed).

    Scale shape: one corpus scan explodes grams to 60-bit md5 ints
    (`dedup._shingles`); registers are a partial-aggregating
    groupBy(source, bucket).max — 256 rows per source REGARDLESS of
    corpus size, so the reduce side is constant; everything after runs
    on the tiny register relation. The exact count(DISTINCT h) column
    is the audit (a full shuffle of the gram space, affordable at test
    SF) — at 100 TB you'd publish only the estimate.

    Cross-engine exactness: rank = 53 - length(bin(w)) is pure integer
    (no float log2 — a log2 at a power-of-2 boundary could flip the
    register on last-bit noise); the harmonic denominator is the exact
    BIGINT Σ 2^(52-M_j) (max 256·2^52 = 2^60, no overflow; empty
    registers contribute 2^52 via the 256-count complement); the one
    division happens on python-folded double literals; ln(m/V) in the
    linear-counting branch is the dsir ln precedent. Estimates and
    errors round 4dp/2dp with the +0.0 negative-zero guard (err can
    round to -0.0 when the estimate lands exact)."""
    from .dedup import _shingles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sh = _shingles(spark, sf_dir).join(docs, "doc_id")
    # r13 optimization: registers are MAX-folds and the audit column is
    # a distinct count, so every consumer below is a function of the
    # DISTINCT (source, h) set — compute it once off one shingle pass
    # and persist the (vocab-bounded, duplicate-free) result instead of
    # re-running the tokenize+explode subtree three times (the before-
    # plan shows 8 documents scans; after: 2 — shingles + the source
    # join). Identical registers, identical exact counts.
    dist = sh.select("source", "h").distinct().persist()
    hashed = dist.select(
        "source",
        (F.col("h") % F.lit(_HLL_W_DOM)).alias("w"),
        F.expr(f"h div {_HLL_W_DOM}").alias("bucket"),
        "h",
    ).withColumn(
        # w == 0 would canonically be rank 53, but 2^(52-53) has no
        # BIGINT representation — cap at 52 (a 2^-52 event, bias
        # far below the 6.5% register noise) on BOTH engines
        "rank",
        F.when(F.col("w") == 0, F.lit(HLL_W_BITS)).otherwise(
            F.lit(HLL_W_BITS + 1) - F.length(F.bin(F.col("w")))
        ),
    )
    regs_src = hashed.groupBy("source", "bucket").agg(
        F.max("rank").alias("m_j")
    )
    # mergeability in action: the corpus registers are the max of the
    # per-source registers (the sketch's union), NOT a recount
    regs_all = regs_src.groupBy("bucket").agg(
        F.max("m_j").alias("m_j")
    ).select(F.lit("ALL").alias("source"), "bucket", "m_j")
    regs = regs_src.unionByName(regs_all)

    est = regs.groupBy("source").agg(
        (
            F.sum(F.expr(f"shiftleft(1L, {HLL_W_BITS} - m_j)"))
            + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(_HLL_W_DOM)
        ).alias("s"),
        (F.lit(HLL_M) - F.count(F.lit(1))).alias("v"),
    )
    raw = F.lit(_HLL_NUMER) / F.col("s")
    lc = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("v"))
    estimate = F.round(
        F.when(
            (raw <= F.lit(_HLL_LC_THRESHOLD)) & (F.col("v") > 0), lc
        ).otherwise(raw),
        4,
    ) + F.lit(0.0)

    # (source, h) is already distinct: per-source count(*) IS the exact
    # distinct-gram count, and the ALL row needs one more distinct over
    # h alone (the same gram can appear under several sources)
    exact_src = dist.groupBy(F.col("source")).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    exact_all = dist.agg(F.countDistinct("h").alias("n_exact")).select(
        F.lit("ALL").alias("source"), "n_exact"
    )
    exact = exact_src.unionByName(exact_all)

    out = est.join(exact, "source").select(
        F.col("source").alias("scope"),
        "n_exact",
        estimate.alias("hll_estimate"),
        (
            F.round(
                (estimate - F.col("n_exact"))
                / F.col("n_exact")
                * F.lit(100.0),
                2,
            )
            + F.lit(0.0)
        ).alias("err_pct"),
    )
    return out.orderBy("scope")


def _duck_hll_sql() -> str:
    from .dedup import duck_shingles_ctes

    w_bits1 = HLL_W_BITS + 1
    est = (
        f"round(CASE WHEN (CAST({_HLL_NUMER!r} AS DOUBLE) / s) <= "
        f"CAST({_HLL_LC_THRESHOLD!r} AS DOUBLE) AND v > 0 "
        f"THEN CAST({float(HLL_M)!r} AS DOUBLE) * "
        f"ln(CAST({float(HLL_M)!r} AS DOUBLE) / v) "
        f"ELSE CAST({_HLL_NUMER!r} AS DOUBLE) / s END, 4) + 0.0"
    )
    return f"""
WITH {duck_shingles_ctes().strip()},
src AS (
  SELECT s.doc_id, d.source, s.h FROM shingles s
  JOIN documents d ON d.doc_id = s.doc_id
),
hashed AS (
  SELECT source, h % {_HLL_W_DOM} AS w, h // {_HLL_W_DOM} AS bucket,
    CASE WHEN h % {_HLL_W_DOM} = 0 THEN {HLL_W_BITS}
         ELSE {w_bits1} - length(bin(h % {_HLL_W_DOM})) END AS rank
  FROM src
),
regs_src AS (
  SELECT source, bucket, max(rank) AS m_j FROM hashed GROUP BY 1, 2
),
regs AS (
  SELECT source, bucket, m_j FROM regs_src
  UNION ALL
  SELECT 'ALL' AS source, bucket, max(m_j) AS m_j FROM regs_src GROUP BY 2
),
est AS (
  SELECT source,
    CAST(sum(CAST(1 AS BIGINT) << ({HLL_W_BITS} - m_j)) AS BIGINT)
      + ({HLL_M} - CAST(count(*) AS BIGINT)) * {_HLL_W_DOM} AS s,
    {HLL_M} - CAST(count(*) AS BIGINT) AS v
  FROM regs GROUP BY 1
),
exact AS (
  SELECT source, CAST(count(DISTINCT h) AS BIGINT) AS n_exact FROM src GROUP BY 1
  UNION ALL
  SELECT 'ALL', CAST(count(DISTINCT h) AS BIGINT) FROM src
)
SELECT e.source AS scope, x.n_exact,
  {est} AS hll_estimate,
  round((({est}) - x.n_exact) / x.n_exact * CAST(100.0 AS DOUBLE), 2) + 0.0 AS err_pct
FROM est e JOIN exact x ON x.source = e.source
ORDER BY scope
"""


ORACLE["hll_ngram_cardinality"] = _duck_hll_sql()
QUERIES["hll_ngram_cardinality"] = hll_ngram_cardinality


# ---------------------------------------------------------------------------
# AMS F2 sketch — self-join-size estimation (Alon, Matias & Szegedy 1996)
# ---------------------------------------------------------------------------

AMS_K = 64  # independent ±1 estimators
AMS_GROUPS = 8  # median-of-means groups (8 estimators each)


def _ams_bit_spark(j: int) -> str:
    """±1 from bit j of the row's two 60-bit md5 halves (j<32 from the
    'a' hash, else the 'b' hash) — 2 md5s per row instead of 64."""
    h = "ha" if j < 32 else "hb"
    b = j % 32
    return f"(2 * CAST(({h} div {1 << b}) % 2 AS INT) - 1)"


def ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment (F2) sketch over events.user_id — the
    constant-memory estimate of SELF-JOIN SIZE Σ c_u², the statistic a
    cost-based optimizer / skew planner needs before shuffling a join
    on the key. Alongside KMV (distinct count) and CMS (point
    frequency), this completes the classic frequency-moment sketch
    trio; F2/n² is also the collision probability behind salting
    decisions (`functions/skew.py`).

    Sketch: 64 ±1 estimators, Zⱼ = Σ sign_j(user), E[Zⱼ²] = F2;
    variance tamed median-of-means style (8 groups × 8). The 64 signs
    are BIT-SLICES of two 60-bit md5 hashes per row (estimator j reads
    bit j%32 of hash a or b) — 2 md5 evaluations per row, not 64 (the
    explode-per-estimator form measured 4.8 s at sf0.1; this one-pass
    64-column aggregate runs in ~0.5 s), and the plan is EXACTLY the
    production shape: one map-side pass accumulating 64 counters per
    partition, one 64-column partial-agg row out, unpivoted to (j, Z)
    for the median machinery. Per-estimator the signs remain 
    independent across users (distinct md5 inputs); bits within one
    hash serve distinct estimators, the standard bit-slicing economy.
    The exact Σ c_u² column is the audit; at 100 TB you'd publish only
    the estimate.

    Cross-engine: Zⱼ is an exact BIGINT sum of ±1; Zⱼ² ≤ n² stays
    BIGINT-exact past 3e9 events; group means divide by the dyadic 8
    (exact); the median interpolates two exact doubles — Spark exact
    ``percentile`` ≡ DuckDB ``quantile_cont`` (CLAUDE.md). Estimate
    rounds 4dp, error 2dp, both with the +0.0 negative-zero guard
    (the error genuinely straddles 0)."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    hashed = ev.select(
        F.expr(
            md5_int60_sql("concat('f2a|', CAST(user_id AS STRING))")
        ).alias("ha"),
        F.expr(
            md5_int60_sql("concat('f2b|', CAST(user_id AS STRING))")
        ).alias("hb"),
    )
    zrow = hashed.agg(
        *[
            F.sum(F.expr(_ams_bit_spark(j))).alias(f"z{j}")
            for j in range(AMS_K)
        ]
    )
    stack = "stack({k}, {pairs}) AS (j, z)".format(
        k=AMS_K,
        pairs=", ".join(f"{j}, z{j}" for j in range(AMS_K)),
    )
    z = zrow.select(F.expr(stack))
    groups = z.groupBy((F.col("j") % F.lit(AMS_GROUPS)).alias("g")).agg(
        (F.sum(F.col("z") * F.col("z")) / F.lit(float(AMS_K // AMS_GROUPS)))
        .alias("gm")
    )
    est = groups.agg(
        F.expr("percentile(gm, 0.5)").alias("est_f2"),
        F.min("gm").alias("min_gm"),
        F.max("gm").alias("max_gm"),
    )
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("c")
    ).agg(
        F.sum(F.col("c") * F.col("c")).alias("exact_f2"),
        F.count(F.lit(1)).alias("n_users"),
        F.sum("c").alias("n_events"),
    )
    # two 1-row summaries — intentional BNLJ (tests/test_scale.py)
    out = exact.join(F.broadcast(est))
    err = (F.col("est_f2") - F.col("exact_f2")) / F.col("exact_f2") * F.lit(
        100.0
    )
    return out.select(
        "n_events",
        "n_users",
        "exact_f2",
        (F.round(F.col("est_f2"), 4) + F.lit(0.0)).alias("est_f2"),
        (F.round(err, 2) + F.lit(0.0)).alias("err_pct"),
        (F.round(F.col("min_gm"), 4) + F.lit(0.0)).alias("min_group_mean"),
        (F.round(F.col("max_gm"), 4) + F.lit(0.0)).alias("max_group_mean"),
    )


def _duck_ams_bit(j: int) -> str:
    h = "ha" if j < 32 else "hb"
    b = j % 32
    return f"(2 * CAST(({h} // {1 << b}) % 2 AS INT) - 1)"


def _duck_ams_sql() -> str:
    zsums = ",\n    ".join(
        f"CAST(sum({_duck_ams_bit(j)}) AS BIGINT) AS z{j}"
        for j in range(AMS_K)
    )
    unpivot = "\n  UNION ALL ".join(
        f"SELECT {j} AS j, z{j} AS z FROM zrow" for j in range(AMS_K)
    )
    ha = duck_md5_int60("concat('f2a|', CAST(user_id AS VARCHAR))")
    hb = duck_md5_int60("concat('f2b|', CAST(user_id AS VARCHAR))")
    return f"""
WITH hashed AS (
  SELECT {ha} AS ha, {hb} AS hb FROM events
),
zrow AS MATERIALIZED (
  SELECT
    {zsums}
  FROM hashed
),
z AS (
  {unpivot}
),
groups AS (
  SELECT j % {AMS_GROUPS} AS g,
    CAST(sum(z * z) AS BIGINT) / CAST({float(AMS_K // AMS_GROUPS)!r} AS DOUBLE) AS gm
  FROM z GROUP BY 1
),
est AS (
  SELECT quantile_cont(gm, 0.5) AS est_f2,
    min(gm) AS min_gm, max(gm) AS max_gm
  FROM groups
),
exact AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2,
    CAST(count(*) AS BIGINT) AS n_users,
    CAST(sum(c) AS BIGINT) AS n_events
  FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1)
)
SELECT x.n_events, x.n_users, x.exact_f2,
  round(e.est_f2, 4) + 0.0 AS est_f2,
  round((e.est_f2 - x.exact_f2) / x.exact_f2 * CAST(100.0 AS DOUBLE), 2) + 0.0 AS err_pct,
  round(e.min_gm, 4) + 0.0 AS min_group_mean,
  round(e.max_gm, 4) + 0.0 AS max_group_mean
FROM exact x CROSS JOIN est e
"""


ORACLE["ams_f2_sketch"] = _duck_ams_sql()
QUERIES["ams_f2_sketch"] = ams_f2_sketch


# ---------------------------------------------------------------------------
# approximate query processing: deterministic Bernoulli sample + CLT bars
# ---------------------------------------------------------------------------

AQP_MOD = 10  # md5(orderkey) % 10 == 0 -> p = 1/10 Bernoulli sample


def sampled_groupby_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlinkDB-style approximate aggregation with error bars: per-nation
    revenue estimated from a deterministic 10% Bernoulli sample of
    orders (md5(o_orderkey) % AQP_MOD == 0 — the repo's reproducible
    coin), with the Horvitz-Thompson estimate, its CLT standard error,
    and side-by-side exact truth + coverage flag. This is the AQP shape
    (sample once, answer many aggregates 10x cheaper with quantified
    error) that sits next to the sketch shelf at 100 TB — the audit
    columns exist so the error model itself is oracle-checked, not just
    the estimate.

    Estimator: T_hat = sum_{sample} x / p;  Var_hat = (1-p)/p^2 * sum_
    {sample} x^2 (per-unit Bernoulli inclusion, Sarndal et al. ch. 3).

    Plan: ONE scan of orders computes exact and sampled sufficient
    statistics together (conditional aggregates — no second pass, no
    join between a "sample table" and truth); the nation dimension
    arrives via two broadcast-sized joins. Partial aggregation means
    the shuffle carries 4 numbers per (partition, nation).

    Cross-engine: revenue sums are 1e2-scaled BIGINTs (pennies); the
    sum of squares is BIGINT too — exact and order-free at test SF
    (headroom note: pennies^2 sums pass 2^63 around 10^5 x the sf0.1
    volume; the production swap is a DOUBLE sum, acceptable there
    because it only widens a CI, but the ORACLE contract keeps the
    integer form). Derived estimate/se/rel-err are single IEEE chains
    off those ints, rounded 4dp in-query; rel_err can be ~0 from either
    side -> + 0.0 after round (negative-zero rule).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    coin = F.expr(md5_int_sql("CAST(o_orderkey AS STRING)")) % AQP_MOD == 0
    pennies = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(pennies).alias("exact_i2"),
            F.sum(F.when(coin, F.lit(1)).otherwise(F.lit(0))).alias("n_sampled"),
            F.sum(F.when(coin, pennies).otherwise(F.lit(0))).alias("samp_i2"),
            F.sum(F.when(coin, pennies * pennies).otherwise(F.lit(0))).alias(
                "samp_sq_i4"
            ),
        )
    )
    # (1-p)/p^2 for p = 1/m is EXACTLY m*(m-1) — keep the variance
    # multiplier integer so both engines' chains are bit-identical
    # (1.0/m double arithmetic vs DuckDB decimal literals diverge).
    varmul = AQP_MOD * (AQP_MOD - 1)
    exact = F.col("exact_i2").cast("double") / 100.0
    est = F.col("samp_i2").cast("double") * AQP_MOD / 100.0
    se = F.sqrt(
        F.lit(float(varmul)) * F.col("samp_sq_i4").cast("double") / 10000.0
    )
    return per_nation.select(
        "n_name",
        "n_orders",
        "n_sampled",
        F.round(exact, 4).alias("exact_revenue"),
        F.round(est, 4).alias("est_revenue"),
        F.round(se, 4).alias("est_se"),
        (F.round((est - exact) / exact * 100.0, 4) + F.lit(0.0)).alias(
            "rel_err_pct"
        ),
        F.when(F.abs(est - exact) <= 1.96 * se, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("ci_covers"),
    ).orderBy("n_name")


ORACLE["sampled_groupby_error_audit"] = f"""
WITH per_nation AS (
  SELECT n_name,
    CAST(count(*) AS BIGINT) AS n_orders,
    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      AS exact_i2,
    CAST(sum(CASE WHEN {duck_md5_int("CAST(o_orderkey AS VARCHAR)")}
      % {AQP_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
    CAST(sum(CASE WHEN {duck_md5_int("CAST(o_orderkey AS VARCHAR)")}
      % {AQP_MOD} = 0
      THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
      ELSE 0 END) AS BIGINT) AS samp_i2,
    CAST(sum(CASE WHEN {duck_md5_int("CAST(o_orderkey AS VARCHAR)")}
      % {AQP_MOD} = 0
      THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
        * CAST(round(o_totalprice * 100, 0) AS BIGINT)
      ELSE 0 END) AS BIGINT) AS samp_sq_i4
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
)
SELECT n_name, n_orders, n_sampled,
  round(CAST(exact_i2 AS DOUBLE) / 100.0, 4) AS exact_revenue,
  round(CAST(samp_i2 AS DOUBLE) * {AQP_MOD} / 100.0, 4) AS est_revenue,
  round(sqrt(CAST({AQP_MOD * (AQP_MOD - 1)} AS DOUBLE)
    * CAST(samp_sq_i4 AS DOUBLE) / 10000.0), 4) AS est_se,
  round((CAST(samp_i2 AS DOUBLE) * {AQP_MOD} / 100.0
      - CAST(exact_i2 AS DOUBLE) / 100.0)
    / (CAST(exact_i2 AS DOUBLE) / 100.0) * 100.0, 4) + 0.0 AS rel_err_pct,
  CAST(CASE WHEN abs(CAST(samp_i2 AS DOUBLE) * {AQP_MOD} / 100.0
      - CAST(exact_i2 AS DOUBLE) / 100.0)
    <= 1.96 * sqrt(CAST({AQP_MOD * (AQP_MOD - 1)} AS DOUBLE)
      * CAST(samp_sq_i4 AS DOUBLE) / 10000.0)
    THEN 1 ELSE 0 END AS INT) AS ci_covers
FROM per_nation
ORDER BY n_name
"""
QUERIES["sampled_groupby_error_audit"] = sampled_groupby_error_audit


# ---------------------------------------------------------------------------
# Bloom runtime-filter semi-join: dim-built filter pruning a fact scan
# ---------------------------------------------------------------------------

RF_SEGMENT = "BUILDING"


def bloom_prefiltered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The runtime-filter join made explicit: build a Bloom filter from
    the FILTERED dimension (customers in the '{RF_SEGMENT}' segment),
    prune the orders fact with it ENTIRELY map-side (the bit array
    rides along as one broadcast row; each fact row checks its k
    positions with array_contains — zero fact shuffle), then join the
    survivors exactly. Emits the pruning ledger a 100 TB plan review
    wants: fact rows, bloom passes, true matches, false-positive
    passes, missed matches (MUST be 0 — Bloom has no false negatives,
    and the column proves it per-run), bloom selectivity, and the
    exact revenue of the true matches — the final answer is exact, the
    filter only prunes.

    This is what Spark's own ``spark.sql.optimizer.runtime.bloomFilter``
    injection does internally; materializing it as a relation makes the
    tradeoff measurable (and the md5-derived bits reproduce in DuckDB,
    which the engine-private ``bloom_filter_agg`` binary would not)."""
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == RF_SEGMENT)
        .select(F.col("c_custkey").alias("key"))
        .distinct()
    )
    pos_j = lambda j, key: F.expr(  # noqa: E731
        md5_int_sql(f"concat('rf{j}_', CAST({key} AS STRING))")
    ) % F.lit(BLOOM_M)
    # pack the filter as a DENSE 64-word bitmask array: each probe is one
    # element_at + shift + mask — O(1). (A sorted position array probed
    # with array_contains is a LINEAR scan per probe: measured 2.8 s vs
    # 0.9 s at sf0.1 for the identical result.)
    words = (
        dim.select(
            F.explode(
                F.array(*[pos_j(j, "key") for j in range(BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
        .groupBy((F.col("pos") / 64).cast("int").alias("word"))
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), pos % 64))").alias("bits"))
    )
    dense = (
        spark.range(BLOOM_M // 64)
        .select(F.col("id").cast("int").alias("word"))
        .join(words, "word", "left")
        .select("word", F.coalesce("bits", F.lit(0)).alias("bits"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(word, bits))), x -> x.bits)"
            ).alias("warr")
        )
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    orders_p = orders.select(
        "o_totalprice",
        "o_custkey",
        *[pos_j(j, "o_custkey").alias(f"p{j}") for j in range(BLOOM_K)],
    )
    passes = None
    for j in range(BLOOM_K):
        c = (
            F.expr(
                f"(shiftright(element_at(warr, CAST(p{j} / 64 AS INT) + 1), "
                f"CAST(p{j} % 64 AS INT)) & 1) = 1"
            )
        )
        passes = c if passes is None else (passes & c)
    probed = (
        orders_p.crossJoin(F.broadcast(dense))
        .join(
            # the true-key set is SF-linear — size-driven membership join
            dim.withColumnRenamed("key", "dkey"),
            F.col("o_custkey") == F.col("dkey"),
            "left",
        )
        .select(
            passes.cast("int").alias("pass_bloom"),
            F.col("dkey").isNotNull().cast("int").alias("matched"),
            "o_totalprice",
        )
    )
    return probed.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("pass_bloom").alias("n_pass_bloom"),
        F.sum("matched").alias("n_true_match"),
        F.sum(
            ((F.col("pass_bloom") == 1) & (F.col("matched") == 0)).cast("int")
        ).alias("n_false_pass"),
        F.sum(
            ((F.col("pass_bloom") == 0) & (F.col("matched") == 1)).cast("int")
        ).alias("n_missed"),
        F.round(
            F.sum("pass_bloom").cast("double") / F.count(F.lit(1)), 4
        ).alias("bloom_selectivity"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("matched") == 1, F.col("o_totalprice"))),
                F.lit(0.0),
            ),
            4,
        ).alias("matched_revenue"),
    )


def _rf_pos_duck(j: int, key: str) -> str:
    return (
        duck_md5_int(f"'rf{j}_' || CAST({key} AS VARCHAR)") + f" % {BLOOM_M}"
    )


ORACLE["bloom_prefiltered_revenue"] = f"""
WITH dim AS (
  SELECT DISTINCT c_custkey AS key FROM customer
  WHERE c_mktsegment = '{RF_SEGMENT}'
),
bits AS (
  SELECT DISTINCT pos FROM dim
  CROSS JOIN UNNEST([{", ".join(_rf_pos_duck(j, "key") for j in range(BLOOM_K))}]) u(pos)
),
bits_list AS (
  SELECT list(pos ORDER BY pos) AS bl FROM bits
),
probed AS (
  SELECT
    CAST(({" AND ".join(f"list_contains(bl, {_rf_pos_duck(j, 'o_custkey')})" for j in range(BLOOM_K))}) AS INT) AS pass_bloom,
    CAST(d.key IS NOT NULL AS INT) AS matched,
    o.o_totalprice
  FROM orders o
  CROSS JOIN bits_list
  LEFT JOIN dim d ON d.key = o.o_custkey
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(pass_bloom) AS BIGINT) AS n_pass_bloom,
  CAST(sum(matched) AS BIGINT) AS n_true_match,
  CAST(sum(CASE WHEN pass_bloom = 1 AND matched = 0 THEN 1 ELSE 0 END)
    AS BIGINT) AS n_false_pass,
  CAST(sum(CASE WHEN pass_bloom = 0 AND matched = 1 THEN 1 ELSE 0 END)
    AS BIGINT) AS n_missed,
  round(CAST(sum(pass_bloom) AS DOUBLE) / count(*), 4)
    AS bloom_selectivity,
  round(coalesce(sum(CASE WHEN matched = 1 THEN o_totalprice END), 0.0), 4)
    AS matched_revenue
FROM probed
"""
QUERIES["bloom_prefiltered_revenue"] = bloom_prefiltered_revenue
