"""Statistical-testing operators: A/B z-test, chi-squared independence,
closed-form OLS regression.

The reference's only statistics are means and rates (reference
app_test.py:86-104); a production analytics engine also answers "is this
difference real?" — these operators compute the classical tests entirely as
distributed aggregates of *sufficient statistics* (counts, sums, sums of
squares/products), which is the only form that scales: one hash-aggregate
pass with map-side combine, a handful of numbers per group on the shuffle,
and closed-form algebra on the driver-side-sized result. No sampling, no
scipy, no iteration.

Cross-engine determinism: every count is integer-exact on both engines
(DuckDB integer sums CAST to BIGINT per CLAUDE.md); float algebra happens
once on the tiny aggregated result, in the same textual formula order on
both sides, rounded 4dp in-query (Spark ``F.round`` ≡ DuckDB ``round``,
both half-up on doubles). Squares are written ``d*d`` (never ``pow``) to
keep both engines on the same IEEE path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import duck_md5_int, md5_int_sql
from ..functions.rounding import round_half_up
from ..plans.churn import churn_cte, churn_customers
from ..sources.registry import load_table

# ---------------------------------------------------------------------------
# two-proportion z-test over an engine-assigned A/B split
# ---------------------------------------------------------------------------


def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on high-value conversion between the two
    halves of a deterministic user split (``user_id % 2``).

    The exposure universe is users with ≥1 purchase; "conversion" is an
    average purchase value ≥ 40 (every clicker also purchases in this
    data, so a did-purchase rate would be degenerate at 1.0 — the value
    threshold keeps both proportions interior at every SF). The average
    is rounded 4dp *before* the threshold so both engines compare the
    same number (float-sum low bits never decide membership).

    Shape at scale: one groupBy(user_id) pass collapses the event stream
    to one row per user (partial aggregation does the heavy lifting
    map-side), then a 2-row variant aggregate and a 1-row fold — the z
    statistic is O(1) algebra on four integers, so the whole test costs
    exactly one event-table shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.round(
            F.avg(
                F.when(F.col("event_type") == "purchase", F.col("value"))
            ),
            4,
        ).alias("apv")
    )
    counts = (
        per_user.filter(F.col("apv").isNotNull())
        .groupBy((F.col("user_id") % 2).alias("variant"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("apv") >= 40.0, 1).otherwise(0)
            ).alias("conv"),
        )
    )
    folded = counts.agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv"))).alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv"))).alias("conv_b"),
    )
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    z = (p_a - p_b) / F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return folded.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(p_a, 4).alias("rate_a"),
        F.round(p_b, 4).alias("rate_b"),
        (F.round(z, 4) + F.lit(0.0)).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# chi-squared test of independence: Contract Length × Churn
# ---------------------------------------------------------------------------


def chi2_churn_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test between ``Contract Length`` and the
    churn label, reported per contract tier with the shared statistic.

    One hash aggregate produces the 3×2 contingency table (integer counts);
    marginals and expectations come from unpartitioned window sums over the
    3-row result — free at any input scale because the windowed relation is
    |contract vocabulary| rows, not |customers|.
    """
    cc = churn_customers(spark, sf_dir)
    grouped = cc.groupBy(F.col("Contract Length").alias("contract_length")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("Churn").alias("churned"),
    )
    w = Window.partitionBy()
    tot_n = F.sum("n").over(w)
    tot_churn = F.sum("churned").over(w)
    exp_churn = F.col("n") * tot_churn / tot_n
    exp_retain = F.col("n") - exp_churn
    d1 = F.col("churned") - exp_churn
    d2 = (F.col("n") - F.col("churned")) - exp_retain
    contrib = d1 * d1 / exp_churn + d2 * d2 / exp_retain
    with_contrib = grouped.select(
        "contract_length",
        "n",
        "churned",
        F.round(exp_churn, 4).alias("expected_churned"),
        F.round(contrib, 4).alias("chi2_contribution"),
    )
    chi2 = F.sum("chi2_contribution").over(w)
    return with_contrib.select(
        "contract_length",
        "n",
        "churned",
        "expected_churned",
        "chi2_contribution",
        F.round(chi2, 4).alias("chi2_total"),
    ).orderBy("contract_length")


# ---------------------------------------------------------------------------
# closed-form simple OLS per group (sufficient-statistics regression)
# ---------------------------------------------------------------------------


def ols_spend_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subscription-tier OLS fit of ``Total Spend ~ Age``: slope,
    intercept and r² from one aggregate pass of sufficient statistics
    (n, Σx, Σy, Σxx, Σxy, Σyy).

    This is how regression distributes: the shuffle carries six numbers
    per group regardless of row count, and the normal-equation algebra
    runs on the aggregated result. Age is integer so Σx/Σxx are exact
    BIGINTs on both engines; the float sums touch doubles once each.
    """
    cc = churn_customers(spark, sf_dir)
    x = F.col("Age").cast("long")
    y = F.col("Total Spend")
    suff = cc.groupBy(F.col("Subscription Type").alias("subscription_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.round(F.sum(y), 4).alias("sy"),
        F.round(F.sum(x * y), 4).alias("sxy"),
        F.round(F.sum(y * y), 4).alias("syy"),
    )
    # covariance algebra over the (rounded) sufficient statistics: rounding
    # BEFORE the algebra pins both engines to identical inputs, so the
    # slope/intercept/r2 chains are bit-identical, not just close.
    n = F.col("n")
    vxx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vyy = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = vxy / vxx
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = vxy * vxy / (vxx * vyy)
    return suff.select(
        "subscription_type",
        "n",
        (F.round(slope, 4) + F.lit(0.0)).alias("slope"),
        (F.round(intercept, 4) + F.lit(0.0)).alias("intercept"),
        F.round(r2, 4).alias("r2"),
    ).orderBy("subscription_type")


def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order prices: observed leading-digit
    shares vs log10(1 + 1/d) — the classic fabricated-numbers detector
    (organic multiplicative amounts follow Benford; invented ones
    cluster mid-digits).

    The leading digit is extracted from the DECIMAL(18,4) string
    rendering, not via log10 of the value: DECIMAL stringification is
    engine-identical (CLAUDE.md double→string rule) while float
    log/floor chains can disagree at power-of-ten boundaries. One 9-row
    hash aggregate; the deviation column (observed − expected share)
    makes the audit verdict readable in place.
    """
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,4)").cast("string"), 1, 1
    ).cast("int")
    grid = (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy()
    share = F.col("n") / F.sum("n").over(w)
    expected = F.round(F.log10(1 + 1 / F.col("digit").cast("double")), 4)
    return grid.select(
        "digit",
        "n",
        F.round(share, 4).alias("observed_share"),
        expected.alias("benford_share"),
        (F.round(share, 4) - expected + F.lit(0.0)).alias("deviation"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# per-group ridge regression (closed form, 2×2 analytic inverse)
# ---------------------------------------------------------------------------

RIDGE_LAMBDA = 1000.0


def ridge_spend_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-contract-tier ridge regression of ``Total Spend`` on centered
    (Age, Tenure): β = (XᵀX + λI)⁻¹ Xᵀy with the 2×2 inverse written
    analytically — per-group model FITTING as a pure SQL aggregate, the
    millions-of-per-entity-models pattern with zero Python in the loop.

    Everything reduces to sufficient statistics (Σx₁, Σx₂, Σx₁², Σx₂²,
    Σx₁x₂ are exact BIGINTs; Σy, Σx₁y, Σx₂y are rounded doubles), and the
    centered second moments + inverse algebra run on the 3-row aggregate.
    λ > 0 also guarantees the determinant is positive — no singular
    groups, no division guard needed. The un-regularized fit of the same
    shape is ``ols_spend_by_segment``; tests assert ridge shrinks both
    coefficients toward zero relative to λ→0.
    """
    cc = churn_customers(spark, sf_dir)
    x1 = F.col("Age").cast("long")
    x2 = F.col("Tenure").cast("long")
    y = F.col("Total Spend")
    suff = cc.groupBy(F.col("Contract Length").alias("contract_length")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(x1 * x2).alias("s12"),
        F.round(F.sum(y), 4).alias("sy"),
        F.round(F.sum(x1 * y), 4).alias("s1y"),
        F.round(F.sum(x2 * y), 4).alias("s2y"),
    )
    n = F.col("n")
    # centered second moments (Gram matrix entries) + centered Xᵀy
    a = F.col("s11") - F.col("s1") * F.col("s1") / n + RIDGE_LAMBDA
    c = F.col("s22") - F.col("s2") * F.col("s2") / n + RIDGE_LAMBDA
    b = F.col("s12") - F.col("s1") * F.col("s2") / n
    g1 = F.col("s1y") - F.col("s1") * F.col("sy") / n
    g2 = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = a * c - b * b
    beta_age = (c * g1 - b * g2) / det
    beta_tenure = (a * g2 - b * g1) / det
    return suff.select(
        "contract_length",
        "n",
        (F.round(beta_age, 6) + F.lit(0.0)).alias("beta_age"),
        (F.round(beta_tenure, 6) + F.lit(0.0)).alias("beta_tenure"),
    ).orderBy("contract_length")


# ---------------------------------------------------------------------------
# weighted median (cumulative-weight threshold, no sort-to-driver)
# ---------------------------------------------------------------------------


def weighted_median_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usage-weighted median of ``Total Spend`` per subscription tier:
    the smallest spend x where the running usage-frequency mass (ordered
    by spend) reaches half the tier's total.

    Distributed form: one cumulative-sum window per tier plus the tier
    total from the same partitioning — a single shuffle, no global sort,
    no collect. The half-mass test is ``2·cum ≥ total`` on exact BIGINTs
    (never ``cum ≥ total/2`` — the division would make it a float
    comparison), and the (spend, CustomerID) window order totalizes
    ties, so both engines cross the threshold on the same row.
    """
    cc = churn_customers(spark, sf_dir).select(
        F.col("Subscription Type").alias("subscription_type"),
        F.col("Total Spend").alias("spend"),
        F.col("Usage Frequency").cast("long").alias("wt"),
        F.col("CustomerID").alias("cid"),
    )
    w_cum = (
        Window.partitionBy("subscription_type")
        .orderBy("spend", "cid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("subscription_type")
    cum = cc.select(
        "subscription_type",
        "spend",
        F.sum("wt").over(w_cum).alias("cum_w"),
        F.sum("wt").over(w_all).alias("tot_w"),
    )
    return (
        cum.filter(2 * F.col("cum_w") >= F.col("tot_w"))
        .groupBy("subscription_type")
        .agg(
            F.min("spend").alias("weighted_median_spend"),
            F.max("tot_w").alias("total_weight"),
        )
        .orderBy("subscription_type")
    )


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence intervals
# ---------------------------------------------------------------------------

BOOTSTRAP_B = 100  # bootstrap replicas

# Poisson(1) inverse-CDF thresholds (cumulative e⁻¹·Σ1/i!): a uniform
# hash-u maps to a replica weight 0..8. The SAME Python-formatted literals
# are rendered into the Spark expression and the DuckDB oracle, so both
# engines binary-search the identical breakpoints.
import math as _math

_POISSON_CUM = []
_acc = 0.0
for _k in range(8):
    _acc += _math.exp(-1.0) / _math.factorial(_k)
    _POISSON_CUM.append(_acc)


def _poisson_weight_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POISSON_CUM)
    )
    return f"(CASE {branches} ELSE {len(_POISSON_CUM)} END)"


def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for mean account balance per market segment via
    the POISSON bootstrap (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012) — the resampling scheme that
    works when you cannot hold or index the dataset: each row enters
    replica b with weight ~ Poisson(1), independently, in the same single
    pass that computes everything else.

    Scale shape: no resampled datasets are materialized — the corpus
    pass is one explode(×B) → hash agg on (segment, replica) carrying
    (Σw·x, Σw) partials; the percentile runs over the B-row replica-mean
    relation per segment. B multiplies the one linear pass, not memory.
    At corpora where ×B dominates, the documented swap is bag-of-little-
    bootstraps (replica weights on per-partition subsamples).

    Determinism: weights come from md5-uniforms pushed through literal
    Poisson(1) breakpoints (identical text both engines); the only
    cross-engine float tolerance is partial-sum ordering inside Σw·x,
    absorbed by the 4dp round (same class as every avg in the repo).
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    h = md5_int_sql("concat('pb_', c_custkey, '_', b)")
    u = f"({h} / CAST(4294967296 AS DOUBLE))"
    w = _poisson_weight_sql(u)
    rep = cust.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.explode(F.expr(f"sequence(0, {BOOTSTRAP_B - 1})")).alias("b"),
    )
    means = (
        rep.groupBy("c_mktsegment", "b")
        .agg(
            F.sum(F.expr(w) * F.col("c_acctbal")).alias("sw"),
            F.sum(F.expr(w)).alias("nw"),
        )
        .filter(F.col("nw") > 0)
        .select("c_mktsegment", (F.col("sw") / F.col("nw")).alias("mean_b"))
    )
    ci = means.groupBy("c_mktsegment").agg(
        F.expr("percentile(mean_b, 0.025)").alias("lo"),
        F.expr("percentile(mean_b, 0.975)").alias("hi"),
    )
    base = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("c_acctbal"), 4).alias("mean_acctbal"),
    )
    return (
        base.join(ci, "c_mktsegment")
        .select(
            "c_mktsegment",
            "n_customers",
            "mean_acctbal",
            F.round("lo", 4).alias("ci_lo"),
            F.round("hi", 4).alias("ci_hi"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE: dict[str, str] = {
    "benford_price_audit": """
WITH grid AS (
  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR),
              1, 1) AS INT) AS digit,
    count(*) AS n
  FROM orders GROUP BY 1
)
SELECT digit, n,
  round(n / CAST(sum(n) OVER () AS DOUBLE), 4) AS observed_share,
  round(log10(1 + 1 / CAST(digit AS DOUBLE)), 4) AS benford_share,
  round(n / CAST(sum(n) OVER () AS DOUBLE), 4)
    - round(log10(1 + 1 / CAST(digit AS DOUBLE)), 4) + 0.0 AS deviation
FROM grid
ORDER BY digit
""",
    "ridge_spend_model": churn_cte('"')
    + f""",
suff AS (
  SELECT "Contract Length" AS contract_length, count(*) AS n,
    CAST(sum(CAST("Age" AS BIGINT)) AS BIGINT) AS s1,
    CAST(sum(CAST("Tenure" AS BIGINT)) AS BIGINT) AS s2,
    CAST(sum(CAST("Age" AS BIGINT) * CAST("Age" AS BIGINT)) AS BIGINT)
      AS s11,
    CAST(sum(CAST("Tenure" AS BIGINT) * CAST("Tenure" AS BIGINT)) AS BIGINT)
      AS s22,
    CAST(sum(CAST("Age" AS BIGINT) * CAST("Tenure" AS BIGINT)) AS BIGINT)
      AS s12,
    round(sum("Total Spend"), 4) AS sy,
    round(sum(CAST("Age" AS BIGINT) * "Total Spend"), 4) AS s1y,
    round(sum(CAST("Tenure" AS BIGINT) * "Total Spend"), 4) AS s2y
  FROM churn_customers GROUP BY 1
),
algebra AS (
  SELECT contract_length, n,
    s11 - s1 * s1 / n + {RIDGE_LAMBDA} AS a,
    s22 - s2 * s2 / n + {RIDGE_LAMBDA} AS c,
    s12 - s1 * s2 / n AS b,
    s1y - s1 * sy / n AS g1,
    s2y - s2 * sy / n AS g2
  FROM suff
)
SELECT contract_length, n,
  round((c * g1 - b * g2) / (a * c - b * b), 6) + 0.0 AS beta_age,
  round((a * g2 - b * g1) / (a * c - b * b), 6) + 0.0 AS beta_tenure
FROM algebra
ORDER BY contract_length
""",
    "weighted_median_spend": churn_cte('"')
    + """,
cc AS (
  SELECT "Subscription Type" AS subscription_type,
    "Total Spend" AS spend,
    CAST("Usage Frequency" AS BIGINT) AS wt,
    "CustomerID" AS cid
  FROM churn_customers
),
cum AS (
  SELECT subscription_type, spend,
    sum(wt) OVER (PARTITION BY subscription_type ORDER BY spend, cid
                  ROWS UNBOUNDED PRECEDING) AS cum_w,
    sum(wt) OVER (PARTITION BY subscription_type) AS tot_w
  FROM cc
)
SELECT subscription_type,
  min(spend) AS weighted_median_spend,
  CAST(max(tot_w) AS BIGINT) AS total_weight
FROM cum
WHERE 2 * cum_w >= tot_w
GROUP BY subscription_type
ORDER BY subscription_type
""",
    "ab_conversion_ztest": """
WITH per_user AS (
  SELECT user_id,
    round(avg(CASE WHEN event_type = 'purchase' THEN value END), 4) AS apv
  FROM events GROUP BY user_id
),
counts AS (
  SELECT user_id % 2 AS variant, count(*) AS n,
    CAST(sum(CASE WHEN apv >= 40.0 THEN 1 ELSE 0 END) AS BIGINT) AS conv
  FROM per_user WHERE apv IS NOT NULL GROUP BY 1
),
folded AS (
  SELECT
    CAST(sum(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN variant = 0 THEN conv END) AS BIGINT) AS conv_a,
    CAST(sum(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n_b,
    CAST(sum(CASE WHEN variant = 1 THEN conv END) AS BIGINT) AS conv_b
  FROM counts
)
SELECT n_a, conv_a, n_b, conv_b,
  round(conv_a / CAST(n_a AS DOUBLE), 4) AS rate_a,
  round(conv_b / CAST(n_b AS DOUBLE), 4) AS rate_b,
  round(
    (conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
    / sqrt(
        ((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
        * (1 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
        * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)
      ), 4) + 0.0 AS z_score
FROM folded
""",
    "chi2_churn_contract": churn_cte('"')
    + """,
grouped AS (
  SELECT "Contract Length" AS contract_length, count(*) AS n,
    CAST(sum("Churn") AS BIGINT) AS churned
  FROM churn_customers GROUP BY 1
),
expanded AS (
  SELECT contract_length, n, churned,
    round(n * sum(churned) OVER () / CAST(sum(n) OVER () AS DOUBLE), 4)
      AS expected_churned,
    round(
      (churned - n * sum(churned) OVER () / CAST(sum(n) OVER () AS DOUBLE))
      * (churned - n * sum(churned) OVER () / CAST(sum(n) OVER () AS DOUBLE))
      / (n * sum(churned) OVER () / CAST(sum(n) OVER () AS DOUBLE))
      +
      ((n - churned) - (n - n * sum(churned) OVER ()
         / CAST(sum(n) OVER () AS DOUBLE)))
      * ((n - churned) - (n - n * sum(churned) OVER ()
         / CAST(sum(n) OVER () AS DOUBLE)))
      / (n - n * sum(churned) OVER () / CAST(sum(n) OVER () AS DOUBLE)),
      4) AS chi2_contribution
  FROM grouped
)
SELECT contract_length, n, churned, expected_churned, chi2_contribution,
  round(sum(chi2_contribution) OVER (), 4) AS chi2_total
FROM expanded
ORDER BY contract_length
""",
    "ols_spend_by_segment": churn_cte('"')
    + """,
suff AS (
  SELECT "Subscription Type" AS subscription_type, count(*) AS n,
    CAST(sum(CAST("Age" AS BIGINT)) AS BIGINT) AS sx,
    CAST(sum(CAST("Age" AS BIGINT) * CAST("Age" AS BIGINT)) AS BIGINT) AS sxx,
    round(sum("Total Spend"), 4) AS sy,
    round(sum(CAST("Age" AS BIGINT) * "Total Spend"), 4) AS sxy,
    round(sum("Total Spend" * "Total Spend"), 4) AS syy
  FROM churn_customers GROUP BY 1
)
SELECT subscription_type, n,
  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0 AS slope,
  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4) + 0.0
    AS intercept,
  round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
FROM suff
ORDER BY subscription_type
""",
}

# ---------------------------------------------------------------------------
# Neyman (optimal) stratified-sampling allocation
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 1000  # total sample budget to allocate


def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal (Neyman) allocation of a fixed sampling budget across the
    market-segment strata: n_h ∝ N_h·S_h — sample more where the stratum
    is bigger OR more variable. The design step a curation pipeline runs
    before drawing a stratified sample (proportional allocation, the
    naive alternative, is what `stratified_sample_counts` draws).

    One hash-agg pass carries (n, Σx, Σx²) per stratum; S_h is the
    textbook sufficient-statistics form written textually identically on
    both engines; the Σ N_h·S_h normalizer is a 1-row broadcast. Output
    is |strata| rows — nothing here grows with the corpus."""
    cust = load_table(spark, sf_dir, "customer")
    suff = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum("c_acctbal").alias("sx"),
        F.sum(F.col("c_acctbal") * F.col("c_acctbal")).alias("sxx"),
    )
    s_h = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_h"))
        / (F.col("n_h") - 1)
    )
    strata = suff.select("c_mktsegment", "n_h", s_h.alias("s_h"))
    total = strata.agg(
        F.sum(F.col("n_h") * F.col("s_h")).alias("norm")
    )
    share = (F.col("n_h") * F.col("s_h")) / F.col("norm")
    return (
        strata.join(F.broadcast(total))
        .select(
            "c_mktsegment",
            "n_h",
            F.round("s_h", 4).alias("stratum_std"),
            F.round(share, 4).alias("alloc_share"),
            F.round(share * NEYMAN_BUDGET, 0)
            .cast("long")
            .alias("n_alloc"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator
# ---------------------------------------------------------------------------

HILL_K = 100  # order statistics in the tail


def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the right-tail index of order totals per
    priority: H = (1/k)·Σ ln(x_(i)/x_(k+1)) over the top-k order
    statistics, α = 1/H — the standard heavy-tail diagnostic (α ≤ 2
    means infinite variance: sampling/averaging intuitions break).

    Scale shape: per-group top-(k+1) is a rank window AFTER a
    WindowGroupLimit-style per-partition heap (Spark inserts the group
    limit below the shuffle), so the full fact table never sorts; the
    estimator itself aggregates k rows per group. Ties order by
    (value DESC, o_orderkey) — total, so both engines pick identical
    tail sets; log() ulp differences across libm implementations are
    absorbed by the 4dp round of the k-term average."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    ranked = orders.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= HILL_K + 1
    )
    thresh = ranked.filter(F.col("rk") == HILL_K + 1).select(
        "o_orderpriority", F.col("o_totalprice").alias("x_k1")
    )
    tail = ranked.filter(F.col("rk") <= HILL_K).join(
        F.broadcast(thresh), "o_orderpriority"
    )
    hill = (
        tail.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.min("x_k1").alias("xk1"),
            (
                F.sum(F.log(F.col("o_totalprice") / F.col("x_k1")))
                / HILL_K
            ).alias("h"),
        )
    )
    return hill.select(
        "o_orderpriority",
        "k",
        F.round("xk1", 2).alias("tail_threshold"),
        F.round("h", 4).alias("hill_h"),
        F.round(F.lit(1.0) / F.col("h"), 4).alias("tail_alpha"),
    ).orderBy("o_orderpriority")


_DUCK_PB_H = duck_md5_int("concat('pb_', c_custkey, '_', b)")
_DUCK_PB_U = f"({_DUCK_PB_H} / CAST(4294967296 AS DOUBLE))"

ORACLE["poisson_bootstrap_ci"] = f"""
WITH rep AS (
  SELECT c_mktsegment, c_custkey, c_acctbal, u.b
  FROM customer
  CROSS JOIN UNNEST(generate_series(0, {BOOTSTRAP_B - 1})) u(b)
),
weighted AS (
  SELECT c_mktsegment, b,
    {_poisson_weight_sql(_DUCK_PB_U)} AS w, c_acctbal
  FROM rep
),
means AS (
  SELECT c_mktsegment,
    sum(w * c_acctbal) / CAST(sum(w) AS DOUBLE) AS mean_b
  FROM weighted
  GROUP BY c_mktsegment, b
  HAVING sum(w) > 0
),
ci AS (
  SELECT c_mktsegment,
    quantile_cont(mean_b, 0.025) AS lo,
    quantile_cont(mean_b, 0.975) AS hi
  FROM means GROUP BY c_mktsegment
),
base AS (
  SELECT c_mktsegment, count(*) AS n_customers,
    round(avg(c_acctbal), 4) AS mean_acctbal
  FROM customer GROUP BY c_mktsegment
)
SELECT base.c_mktsegment, n_customers, mean_acctbal,
  round(lo, 4) AS ci_lo, round(hi, 4) AS ci_hi
FROM base JOIN ci ON ci.c_mktsegment = base.c_mktsegment
ORDER BY base.c_mktsegment
"""

ORACLE["neyman_allocation"] = f"""
WITH suff AS (
  SELECT c_mktsegment, count(*) AS n_h,
    sum(c_acctbal) AS sx, sum(c_acctbal * c_acctbal) AS sxx
  FROM customer GROUP BY c_mktsegment
),
strata AS (
  SELECT c_mktsegment, n_h,
    sqrt((sxx - sx * sx / n_h) / (n_h - 1)) AS s_h
  FROM suff
),
total AS (SELECT sum(n_h * s_h) AS norm FROM strata)
SELECT c_mktsegment, n_h,
  round(s_h, 4) AS stratum_std,
  round((n_h * s_h) / norm, 4) AS alloc_share,
  CAST(round((n_h * s_h) / norm * {NEYMAN_BUDGET}, 0) AS BIGINT) AS n_alloc
FROM strata, total
ORDER BY c_mktsegment
"""

ORACLE["hill_tail_index"] = f"""
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
    row_number() OVER (
      PARTITION BY o_orderpriority
      ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
),
thresh AS (
  SELECT o_orderpriority, o_totalprice AS x_k1
  FROM ranked WHERE rk = {HILL_K + 1}
),
tail AS (
  SELECT r.o_orderpriority, r.o_totalprice, t.x_k1
  FROM ranked r JOIN thresh t ON t.o_orderpriority = r.o_orderpriority
  WHERE r.rk <= {HILL_K}
),
hill AS (
  SELECT o_orderpriority, count(*) AS k, min(x_k1) AS xk1,
    sum(ln(o_totalprice / x_k1)) / {HILL_K} AS h
  FROM tail GROUP BY o_orderpriority
)
SELECT o_orderpriority, k,
  round(xk1, 2) AS tail_threshold,
  round(h, 4) AS hill_h,
  round(CAST(1 AS DOUBLE) / h, 4) AS tail_alpha
FROM hill
ORDER BY o_orderpriority
"""

QUERIES = {
    "ab_conversion_ztest": ab_conversion_ztest,
    "poisson_bootstrap_ci": poisson_bootstrap_ci,
    "neyman_allocation": neyman_allocation,
    "hill_tail_index": hill_tail_index,
    "ridge_spend_model": ridge_spend_model,
    "benford_price_audit": benford_price_audit,
    "chi2_churn_contract": chi2_churn_contract,
    "ols_spend_by_segment": ols_spend_by_segment,
    "weighted_median_spend": weighted_median_spend,
}


# ---------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) — purchase vs click value distributions
# ---------------------------------------------------------------------------


def mann_whitney_value_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test: are purchase ``value``s stochastically larger
    than click ``value``s? Nonparametric — the t-test's assumptions fail
    on skewed revenue data, so this is the test a pipeline actually runs.

    Distributed shape: collapse to DISTINCT values first (groupBy(value)
    with per-group counts — partial-aggregating), then ONE ordered
    prefix-sum window assigns every distinct value its midrank; the
    sufficient statistics (n1, N, rank-sum R1, tie term Σ(t³-t)) fold to
    a single row and the U/z algebra is O(1). The unpartitioned window
    runs over |distinct values| rows, not events; at 100 TB the same op
    is the two-level prefix sum ``peak_concurrent_sessions`` uses
    (per-range subtotals → per-range offset) — identical output.

    Cross-engine exactness: midranks are multiples of 0.5 with magnitude
    ≤ N, so every product n1·midrank and every partial sum is an exactly
    representable double — the rank-sum is order-free and bit-identical
    on both engines. The tie term Σ(c³−c) folds as an exact BIGINT
    (ADVICE r7: a DOUBLE hash-agg loses exactness past 2^53; BIGINT is
    exact to 2^63 and throws LOUDLY beyond — a single c³ overflows only
    at tie-group size c > 2.1e6); n1·n2 stays DOUBLE in the variance
    algebra per the CLAUDE.md Gini rule.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    per_val = ev.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n1v"),
        F.count(F.lit(1)).alias("cnt"),
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = per_val.select(
        "n1v",
        "cnt",
        (
            F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("double")
            + (F.col("cnt").cast("double") + 1.0) / 2.0
        ).alias("midrank"),
    )
    suff = ranked.agg(
        F.sum("n1v").alias("n1"),
        F.sum("cnt").alias("n"),
        F.sum(F.col("n1v").cast("double") * F.col("midrank")).alias("r1"),
        # exact BIGINT tie fold (see kruskal_wallis_value_test): DOUBLE
        # only enters the variance algebra below
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_term"),
    )
    n1 = F.col("n1").cast("double")
    n2 = (F.col("n") - F.col("n1")).cast("double")
    nn = F.col("n").cast("double")
    u1 = F.col("r1") - n1 * (n1 + 1.0) / 2.0
    mu = n1 * n2 / 2.0
    var = (
        n1 * n2 / 12.0
        * ((nn + 1.0) - F.col("tie_term").cast("double") / (nn * (nn - 1.0)))
    )
    return suff.select(
        F.col("n1").alias("n_purchase"),
        (F.col("n") - F.col("n1")).alias("n_click"),
        # U is an exact multiple of 0.5 — repr-stable without rounding
        u1.alias("u_stat"),
        # degenerate guards (one empty group / all values tied): ANSI
        # Spark THROWS on double div-by-zero where DuckDB yields NULL —
        # make both sides NULL explicitly (CLAUDE.md daily_ctr rule)
        (
            F.when(n1 * n2 > 0, F.round(u1 / (n1 * n2), 4) + F.lit(0.0))
        ).alias("auc"),
        # nested guard: the var EXPRESSION divides by nn*(nn-1), so the
        # outer nn>1 test must hold before var>0 is even evaluated
        (
            F.when(
                nn > 1.0,
                F.when(
                    var > 0,
                    F.round((u1 - mu) / F.sqrt(var), 4) + F.lit(0.0),
                ),
            )
        ).alias("z_value"),
    )


ORACLE["mann_whitney_value_test"] = """
WITH per_val AS (
  SELECT value,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         AS BIGINT) AS n1v,
    CAST(count(*) AS BIGINT) AS cnt
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY value
),
ranked AS (
  SELECT n1v, cnt,
    CAST(coalesce(sum(cnt) OVER (ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
      + (CAST(cnt AS DOUBLE) + 1.0) / 2.0 AS midrank
  FROM per_val
),
suff AS (
  SELECT CAST(sum(n1v) AS BIGINT) AS n1, CAST(sum(cnt) AS BIGINT) AS n,
    sum(CAST(n1v AS DOUBLE) * midrank) AS r1,
    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
  FROM ranked
),
alg AS (
  SELECT n1, n - n1 AS n2_i,
    CAST(n1 AS DOUBLE) AS d1, CAST(n - n1 AS DOUBLE) AS d2,
    CAST(n AS DOUBLE) AS dn, r1, tie_term
  FROM suff
)
SELECT n1 AS n_purchase, n2_i AS n_click,
  r1 - d1 * (d1 + 1.0) / 2.0 AS u_stat,
  CASE WHEN d1 * d2 > 0 THEN
    round((r1 - d1 * (d1 + 1.0) / 2.0) / (d1 * d2), 4) + 0.0 END AS auc,
  CASE WHEN dn > 1.0 AND d1 * d2 / 12.0
            * ((dn + 1.0) - CAST(tie_term AS DOUBLE) / (dn * (dn - 1.0))) > 0 THEN
    round(((r1 - d1 * (d1 + 1.0) / 2.0) - d1 * d2 / 2.0)
      / sqrt(d1 * d2 / 12.0
             * ((dn + 1.0) - CAST(tie_term AS DOUBLE) / (dn * (dn - 1.0)))), 4)
      + 0.0 END AS z_value
FROM alg
"""
QUERIES["mann_whitney_value_test"] = mann_whitney_value_test


# ---------------------------------------------------------------------------
# Theil-Sen robust trend over the daily revenue series
# ---------------------------------------------------------------------------


def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator per event type: the MEDIAN of all pairwise
    slopes of the daily value-sum series — robust to outlier days where
    an OLS fit (``ols_spend_by_segment``) is not (breakdown point 29%).

    Shape at scale: the event stream collapses to one row per (type,
    day) FIRST (partial-aggregating groupBy — this is the only pass over
    the raw data); the pairwise self-join runs on the day-level series,
    whose size is bounded by the calendar, not the data volume — at
    100 TB of events over 5 years it is still ~1.8k rows/type → ~1.6M
    pairs, a trivial broadcast-join explosion. Slopes round 6dp before
    the median so both engines interpolate identical numbers (Spark
    exact ``percentile`` ≡ DuckDB ``quantile_cont``); the sign-share
    column is integer-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("rev"))
    d = daily.select(
        "event_type",
        F.datediff("day", F.lit("1970-01-01").cast("date")).alias("di"),
        "rev",
    )
    right = d.select(
        F.col("event_type").alias("event_type_r"),
        F.col("di").alias("dj"),
        F.col("rev").alias("rev_j"),
    )
    pairs = d.join(
        F.broadcast(right),
        (F.col("event_type") == F.col("event_type_r"))
        & (F.col("di") < F.col("dj")),
    ).select(
        "event_type",
        F.round(
            (F.col("rev_j") - F.col("rev"))
            / (F.col("dj") - F.col("di")).cast("double"),
            6,
        ).alias("slope"),
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (
                F.round(F.expr("percentile(slope, 0.5)"), 4) + F.lit(0.0)
            ).alias("ts_slope"),
            F.round(
                F.sum(F.when(F.col("slope") > 0, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("up_share"),
        )
        .orderBy("event_type")
    )


ORACLE["theil_sen_daily_trend"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, round(sum(value), 4) AS rev
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
d AS (
  SELECT event_type,
    date_diff('day', DATE '1970-01-01', day) AS di, rev
  FROM daily
),
pairs AS (
  SELECT a.event_type,
    round((b.rev - a.rev) / CAST(b.di - a.di AS DOUBLE), 6) AS slope
  FROM d a JOIN d b
    ON a.event_type = b.event_type AND a.di < b.di
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_pairs,
  round(quantile_cont(slope, 0.5), 4) + 0.0 AS ts_slope,
  round(CAST(sum(CASE WHEN slope > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*), 4) AS up_share
FROM pairs
GROUP BY event_type
ORDER BY event_type
"""
QUERIES["theil_sen_daily_trend"] = theil_sen_daily_trend


# ---------------------------------------------------------------------------
# DBSCAN density census over the (events-per-user, avg-value) plane
# ---------------------------------------------------------------------------

DBSCAN_EPS = 3.0  # neighborhood radius in feature units (= grid cell width)
DBSCAN_MINPTS = 4  # neighbors (exclusive of self) required for a core point


def dbscan_density_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN's density classification (core / border / noise) over the
    per-user behavior plane (event count, 4dp-rounded mean value) — the
    density census an outlier-triage pipeline runs BEFORE committing to
    full cluster expansion (``near_dup_clusters`` owns the
    connected-components stage).

    Scale shape: the ε-neighborhood join is GRID-BLOCKED — each point
    lands in one ⌊x/ε⌋×⌊y/ε⌋ cell, probes its 9-cell neighborhood
    (map-side explode), and joins cell-to-cell EQUI keys; exact distance
    filters the candidates. Candidate volume is bounded by cell
    occupancy (density-bounded), never n² — the textbook spatial-join
    rewrite, same lever as ``embedding_dup_pairs``' block grid but with
    an index that actually prunes (2-D features localize; raw 64-d
    distances don't — curse of dimensionality, measured: eps at the 1st
    distance percentile spans the whole dim range). Border detection
    re-joins the ε-pair relation against the core set: one extra
    broadcast-sized semi-join. The DuckDB oracle runs the IDENTICAL
    9-cell algorithm; distances square 4dp-rounded inputs in the same
    textual order and round 8dp before the ε² comparison.
    """
    ev = load_table(spark, sf_dir, "events")
    pts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("av"),
    )
    cell = lambda c: F.floor(F.col(c) / DBSCAN_EPS).cast("int")  # noqa: E731
    pts = pts.select(
        "user_id", "n", "av", cell("n").alias("cx"), cell("av").alias("cy")
    ).localCheckpoint()  # one tiny relation, four consumers below
    probes = pts.select(
        F.col("user_id").alias("ua"),
        F.col("n").alias("na"),
        F.col("av").alias("ava"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx -> "
                "transform(sequence(-1, 1), dy -> struct(cx + dx AS px, cy + dy AS py))))"
            )
        ).alias("p"),
    ).select("ua", "na", "ava", "p.px", "p.py")
    d2 = F.round(
        (F.col("na") - F.col("n")).cast("double")
        * (F.col("na") - F.col("n")).cast("double")
        + (F.col("ava") - F.col("av")) * (F.col("ava") - F.col("av")),
        8,
    )
    nbr_pairs = (
        probes.join(
            pts.select("user_id", "n", "av", "cx", "cy"),
            (F.col("px") == F.col("cx")) & (F.col("py") == F.col("cy")),
        )
        .filter(F.col("ua") != F.col("user_id"))
        .filter(d2 <= F.lit(DBSCAN_EPS * DBSCAN_EPS))
        .select("ua", F.col("user_id").alias("ub"))
        .localCheckpoint()  # ε-pairs feed the count AND the border join
    )
    counts = nbr_pairs.groupBy("ua").agg(F.count(F.lit(1)).alias("n_nbrs"))
    labeled = pts.select("user_id").join(
        counts, pts.user_id == counts.ua, "left"
    ).select(
        "user_id", F.coalesce("n_nbrs", F.lit(0)).alias("n_nbrs")
    )
    core = labeled.filter(F.col("n_nbrs") >= DBSCAN_MINPTS).select(
        F.col("user_id").alias("core_id")
    )
    has_core_nbr = (
        nbr_pairs.join(core, nbr_pairs.ub == core.core_id, "left_semi")
        .select(F.col("ua").alias("user_id"))
        .distinct()
    )
    cls = (
        labeled.join(
            core.select(F.col("core_id").alias("user_id"), F.lit(1).alias("is_core")),
            "user_id",
            "left",
        )
        .join(
            has_core_nbr.select("user_id", F.lit(1).alias("near_core")),
            "user_id",
            "left",
        )
        .select(
            "user_id",
            "n_nbrs",
            F.when(F.col("is_core") == 1, "core")
            .when(F.col("near_core") == 1, "border")
            .otherwise("noise")
            .alias("cls"),
        )
    )
    return (
        cls.groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("n_nbrs"), 4).alias("avg_neighbors"),
        )
        .orderBy("cls")
    )


ORACLE["dbscan_density_census"] = f"""
WITH pts AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n, round(avg(value), 4) AS av,
    CAST(floor(CAST(count(*) AS DOUBLE) / CAST({DBSCAN_EPS} AS DOUBLE))
         AS INT) AS cx,
    CAST(floor(round(avg(value), 4) / CAST({DBSCAN_EPS} AS DOUBLE))
         AS INT) AS cy
  FROM events GROUP BY user_id
),
probes AS (
  SELECT user_id AS ua, n AS na, av AS ava,
    cx + u.dx AS px, cy + v.dy AS py
  FROM pts
  CROSS JOIN UNNEST(generate_series(-1, 1)) u(dx)
  CROSS JOIN UNNEST(generate_series(-1, 1)) v(dy)
),
nbr_pairs AS (
  SELECT p.ua, b.user_id AS ub
  FROM probes p
  JOIN pts b ON b.cx = p.px AND b.cy = p.py AND b.user_id <> p.ua
  WHERE round(CAST(p.na - b.n AS DOUBLE) * CAST(p.na - b.n AS DOUBLE)
              + (p.ava - b.av) * (p.ava - b.av), 8)
        <= {DBSCAN_EPS * DBSCAN_EPS}
),
labeled AS (
  SELECT p.user_id, CAST(coalesce(c.n_nbrs, 0) AS BIGINT) AS n_nbrs
  FROM pts p
  LEFT JOIN (SELECT ua, count(*) AS n_nbrs FROM nbr_pairs GROUP BY ua) c
    ON c.ua = p.user_id
),
core AS (SELECT user_id FROM labeled WHERE n_nbrs >= {DBSCAN_MINPTS}),
near_core AS (
  SELECT DISTINCT np.ua AS user_id
  FROM nbr_pairs np JOIN core c ON c.user_id = np.ub
),
cls AS (
  SELECT l.user_id, l.n_nbrs,
    CASE WHEN l.user_id IN (SELECT user_id FROM core) THEN 'core'
         WHEN l.user_id IN (SELECT user_id FROM near_core) THEN 'border'
         ELSE 'noise' END AS cls
  FROM labeled l
)
SELECT cls, CAST(count(*) AS BIGINT) AS n_users,
  round(avg(n_nbrs), 4) AS avg_neighbors
FROM cls
GROUP BY cls
ORDER BY cls
"""
QUERIES["dbscan_density_census"] = dbscan_density_census


# ---------------------------------------------------------------------------
# time-series diagnostics: ACF + CUSUM changepoint on the daily series
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7


def acf_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily value-sum series at lags 1..7 — the
    seasonality diagnostic (a weekly cycle shows as an ACF spike at lag
    7) run before choosing a forecasting or drift-detection window.

    The raw events collapse to the CALENDAR-bounded daily series first
    (one partial-aggregating pass — the only touch of the data); all lag
    arithmetic is windows over |days| rows. Cross-engine: daily sums
    round 4dp, the mean 6dp, so the (x−μ) products multiply identical
    doubles; the final ratio rounds 4dp with the ±0.0 normalization
    (ACF near zero can round to −0.0 on one engine).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 4).alias("x")
    )
    mu = daily.agg(F.round(F.avg("x"), 6).alias("mu"))
    d = daily.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("x") - F.col("mu")).alias("c")
    )
    w = Window.orderBy("day")
    lagged = d.select(
        "day",
        "c",
        *[F.lag("c", k).over(w).alias(f"c{k}") for k in range(1, ACF_MAX_LAG + 1)],
    )
    agg = lagged.agg(
        F.sum(F.col("c") * F.col("c")).alias("denom"),
        *[
            F.sum(F.col("c") * F.col(f"c{k}")).alias(f"num{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    long = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"),
                        # denom=0 for a constant/1-day series: ANSI
                        # Spark throws where DuckDB NULLs — guard both
                        (
                            F.when(
                                F.col("denom") > 0,
                                F.round(
                                    F.col(f"num{k}") / F.col("denom"), 4
                                )
                                + F.lit(0.0),
                            )
                        ).alias("acf"),
                    )
                    for k in range(1, ACF_MAX_LAG + 1)
                ]
            )
        ).alias("e")
    )
    return long.select("e.lag", "e.acf").orderBy("lag")


ORACLE["acf_daily_value"] = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, round(sum(value), 4) AS x
  FROM events GROUP BY CAST(ts AS DATE)
),
mu AS (SELECT round(avg(x), 6) AS mu FROM daily),
d AS (SELECT day, x - m.mu AS c FROM daily CROSS JOIN mu m),
lagged AS (
  SELECT day, c,
    {", ".join(f"lag(c, {k}) OVER (ORDER BY day) AS c{k}" for k in range(1, ACF_MAX_LAG + 1))}
  FROM d
),
agg AS (
  SELECT sum(c * c) AS denom,
    {", ".join(f"sum(c * c{k}) AS num{k}" for k in range(1, ACF_MAX_LAG + 1))}
  FROM lagged
)
{" UNION ALL ".join(f"SELECT {k} AS lag, CASE WHEN denom > 0 THEN round(num{k} / denom, 4) + 0.0 END AS acf FROM agg" for k in range(1, ACF_MAX_LAG + 1))}
ORDER BY lag
"""
QUERIES["acf_daily_value"] = acf_daily_value


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan per event type: the running sum of
    mean-deviations S_t = Σ_{i≤t}(x_i − μ) peaks (in |S|) at the most
    likely level-shift point (Page 1954 / binary-segmentation step 1).
    Emits per type the argmax day, the |S| magnitude, and the series
    span — the monitor that says WHERE a drift started, complementing
    ``value_drift_weekly``/``psi_value_drift`` which say THAT it did.

    Determinism is the strong kind: S_t is an ORDERED cumulative sum
    over the day sequence, so both engines add identical 4dp-rounded
    deviations in the identical order — S is bit-identical, no rounding
    needed before the argmax (ties break on earliest day). Everything
    after the daily collapse is windows over calendar-bounded rows.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("x"))
    mu = daily.groupBy("event_type").agg(
        F.round(F.avg("x"), 6).alias("mu"),
        F.count(F.lit(1)).alias("n_days"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = (
        daily.join(mu, "event_type")
        .select(
            "event_type",
            "day",
            "n_days",
            F.sum(F.col("x") - F.col("mu")).over(w).alias("s"),
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), "day"
    )
    return (
        s.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("day").alias("changepoint_day"),
            (F.round(F.abs(F.col("s")), 4) + F.lit(0.0)).alias("cusum_peak"),
        )
        .orderBy("event_type")
    )


# Shared CTE chain: per-type daily sums → CUSUM → argmax row. Used by
# BOTH the cusum_changepoint oracle and the segmented_trend_fit oracle
# (which consumes the same breakpoint), so the two can never drift.
_CUSUM_CTES = """daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, round(sum(value), 4) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
mu AS (
  SELECT event_type, round(avg(x), 6) AS mu,
    CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY event_type
),
s AS (
  SELECT d.event_type, d.day, m.n_days,
    sum(d.x - m.mu) OVER (PARTITION BY d.event_type ORDER BY d.day
      ROWS UNBOUNDED PRECEDING) AS s
  FROM daily d JOIN mu m ON m.event_type = d.event_type
),
ranked AS (
  SELECT event_type, day, n_days, s,
    row_number() OVER (PARTITION BY event_type
                       ORDER BY abs(s) DESC, day) AS rn
  FROM s
)"""

ORACLE["cusum_changepoint"] = f"""
WITH {_CUSUM_CTES}
SELECT event_type, n_days, day AS changepoint_day,
  round(abs(s), 4) + 0.0 AS cusum_peak
FROM ranked WHERE rn = 1
ORDER BY event_type
"""
QUERIES["cusum_changepoint"] = cusum_changepoint


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B readout
# ---------------------------------------------------------------------------

# ABSOLUTE split timestamp: pre-period covariate before it, experiment
# window from it on. Events span 2024-01-01..30 (TESTDATA.md); a
# day-of-month split would silently interleave the periods if the data
# ever crossed a month boundary, and both engines would agree so the
# oracle could never catch it (round-4 ADVICE).
CUPED_SPLIT_TS = "2024-01-16 00:00:00"


def cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013): variance-reduced A/B readout using each
    user's PRE-period mean value as the control covariate — the standard
    sensitivity upgrade for experiment readouts (same decision, tighter
    CI, often 40-60% variance off).

    θ = cov(pre, post)/var(pre) is pooled over all exposed users;
    y* = y − θ(x − x̄) is a pure column expression; the per-variant
    means and the variance-reduction ratio are one more sufficient-
    stats fold. TWO aggregate passes total over the per-user relation
    (itself one partial-aggregating pass over events). Pre/post means
    round 4dp so every product multiplies identical doubles; θ rounds
    6dp before the adjustment (the kmeans fixed-point recipe); outputs
    round 4dp with ±0.0 guards on the two diff columns.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.round(
                F.avg(
                    F.when(
                        F.col("ts")
                        < F.lit(CUPED_SPLIT_TS).cast("timestamp"),
                        F.col("value"),
                    )
                ),
                4,
            ).alias("x"),
            F.round(
                F.avg(
                    F.when(
                        F.col("ts")
                        >= F.lit(CUPED_SPLIT_TS).cast("timestamp"),
                        F.col("value"),
                    )
                ),
                4,
            ).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .select(
            "user_id", (F.col("user_id") % 2).alias("variant"), "x", "y"
        )
    )
    suff = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    theta_df = suff.select(
        "n",
        (F.col("sx") / F.col("n")).alias("xbar"),
        F.round(
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")),
            6,
        ).alias("theta"),
    )
    adj = per_user.crossJoin(F.broadcast(theta_df)).select(
        "variant",
        "y",
        (
            F.col("y") - F.col("theta") * (F.col("x") - F.col("xbar"))
        ).alias("ystar"),
        "theta",
        "n",
    )
    folded = adj.groupBy().agg(
        F.first("theta").alias("theta"),
        F.first("n").alias("n_users"),
        F.avg(F.when(F.col("variant") == 0, F.col("y"))).alias("y_a"),
        F.avg(F.when(F.col("variant") == 1, F.col("y"))).alias("y_b"),
        F.avg(F.when(F.col("variant") == 0, F.col("ystar"))).alias("ys_a"),
        F.avg(F.when(F.col("variant") == 1, F.col("ystar"))).alias("ys_b"),
        F.var_pop("y").alias("var_y"),
        F.var_pop("ystar").alias("var_ystar"),
    )
    return folded.select(
        "n_users",
        (F.round("theta", 4) + F.lit(0.0)).alias("theta"),
        (F.round(F.col("y_b") - F.col("y_a"), 4) + F.lit(0.0)).alias(
            "raw_diff"
        ),
        (F.round(F.col("ys_b") - F.col("ys_a"), 4) + F.lit(0.0)).alias(
            "cuped_diff"
        ),
        F.round(F.col("var_ystar") / F.col("var_y"), 4).alias(
            "var_ratio"
        ),
    )


ORACLE["cuped_adjusted_ab"] = f"""
WITH per_user AS (
  SELECT user_id, user_id % 2 AS variant,
    round(avg(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT_TS}'
                   THEN value END), 4) AS x,
    round(avg(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT_TS}'
                   THEN value END), 4) AS y
  FROM events GROUP BY user_id
),
filtered AS (
  SELECT * FROM per_user WHERE x IS NOT NULL AND y IS NOT NULL
),
suff AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
    sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM filtered
),
theta AS (
  SELECT n, sx / n AS xbar,
    round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS theta
  FROM suff
),
adj AS (
  SELECT f.variant, f.y,
    f.y - t.theta * (f.x - t.xbar) AS ystar, t.theta, t.n
  FROM filtered f CROSS JOIN theta t
)
SELECT any_value(n) AS n_users,
  round(any_value(theta), 4) + 0.0 AS theta,
  round(avg(CASE WHEN variant = 1 THEN y END)
        - avg(CASE WHEN variant = 0 THEN y END), 4) + 0.0 AS raw_diff,
  round(avg(CASE WHEN variant = 1 THEN ystar END)
        - avg(CASE WHEN variant = 0 THEN ystar END), 4) + 0.0 AS cuped_diff,
  round(var_pop(ystar) / var_pop(y), 4) AS var_ratio
FROM adj
"""
QUERIES["cuped_adjusted_ab"] = cuped_adjusted_ab


# ---------------------------------------------------------------------------
# seasonal-naive forecast backtest (the baseline every forecaster must beat)
# ---------------------------------------------------------------------------

SN_LAG_DAYS = 7


def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecast ŷ_t = y_{t−7} on the
    daily value-sum series per event type: MAE, MAPE and mean bias over
    every day with a 7-day-old observation. This is the no-skill
    baseline (Hyndman's benchmark rule) — ``ses_user_forecast`` and the
    Markov backtest must beat it to justify their state.

    One data pass (the daily collapse); the lag join is a window over
    calendar-bounded rows. Lag uses the DATE arithmetic, not row
    offsets, so gaps in the calendar can't silently misalign the
    season. 4dp-rounded dailies feed identical subtractions; MAPE
    guards zero actuals (ANSI division rule).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("y"))
    lagged = daily.alias("a").join(
        daily.alias("b"),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.day") == F.date_sub(F.col("a.day"), SN_LAG_DAYS)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.y").alias("y"),
        F.col("b.y").alias("yhat"),
    )
    err = F.col("y") - F.col("yhat")
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg(F.abs(err)), 4).alias("mae"),
            F.round(
                F.avg(
                    F.when(F.col("y") != 0, F.abs(err) / F.abs(F.col("y")))
                ),
                4,
            ).alias("mape"),
            (F.round(F.avg(err), 4) + F.lit(0.0)).alias("bias"),
        )
        .orderBy("event_type")
    )


ORACLE["seasonal_naive_backtest"] = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, round(sum(value), 4) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
lagged AS (
  SELECT a.event_type, a.y, b.y AS yhat
  FROM daily a
  JOIN daily b ON b.event_type = a.event_type
    AND b.day = a.day - INTERVAL {SN_LAG_DAYS} DAY
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_days,
  round(avg(abs(y - yhat)), 4) AS mae,
  round(avg(CASE WHEN y <> 0 THEN abs(y - yhat) / abs(y) END), 4) AS mape,
  round(avg(y - yhat), 4) + 0.0 AS bias
FROM lagged
GROUP BY event_type
ORDER BY event_type
"""
QUERIES["seasonal_naive_backtest"] = seasonal_naive_backtest


# ---------------------------------------------------------------------------
# Huber robust regression — 2 unrolled IRLS rounds
# ---------------------------------------------------------------------------

HUBER_ROUNDS = 2
# Tuning constant × MAD-sigma. The textbook 95%-efficiency value is 1.345,
# but this synthetic spend distribution is BOUNDED (|residual| max ≈ 1.3σ:
# uniform-ish, no heavy tail), so 1.345σ downweights nothing and IRLS
# degenerates to OLS. c = 1.0σ keeps ~12% of rows in the downweighted
# branch — the mechanics stay exercised; production data uses 1.345.
HUBER_C = 1.0
MAD_K = 1.4826  # MAD → sigma under normality


def huber_spend_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber-loss robust fit of ``Total Spend ~ Age`` — two unrolled
    IRLS rounds from the OLS start: weight w = min(1, c/|r|) with
    c = 1.345·(1.4826·median|r|), then weighted least squares; heavy
    tails stop dragging the slope (``ols_spend_by_segment`` is the
    non-robust comparand, ``theil_sen_daily_trend`` the rank-based one).

    Every round is ONE sufficient-stats aggregate over the table (the
    IRLS loop never materializes residuals: weights are a column
    expression of the previous round's 6dp-rounded coefficients) plus
    an exact-percentile pass for the MAD scale. Fixed-point recipe:
    coefficients and scale round 6dp at every round boundary, weighted
    sums round 4dp BEFORE the normal-equation algebra (the
    ``ols_spend_by_segment`` rule), so both engines iterate identical
    numbers. Output: OLS vs Huber slope/intercept, final scale, and the
    downweighted-row count.
    """
    cc = churn_customers(spark, sf_dir).select(
        F.col("Age").cast("double").alias("x"),
        F.col("Total Spend").alias("y"),
    )

    def wls(df: DataFrame, w) -> tuple:
        suff = df.agg(
            F.round(F.sum(w), 4).alias("sw"),
            F.round(F.sum(w * F.col("x")), 4).alias("swx"),
            F.round(F.sum(w * F.col("y")), 4).alias("swy"),
            F.round(F.sum(w * F.col("x") * F.col("x")), 4).alias("swxx"),
            F.round(F.sum(w * F.col("x") * F.col("y")), 4).alias("swxy"),
        ).collect()[0]
        sw, swx, swy, swxx, swxy = (
            suff["sw"], suff["swx"], suff["swy"], suff["swxx"], suff["swxy"]
        )
        slope = round_half_up(
            (sw * swxy - swx * swy) / (sw * swxx - swx * swx), 6
        )
        intercept = round_half_up((swy - slope * swx) / sw, 6)
        return slope, intercept

    slope, intercept = wls(cc, F.lit(1.0))
    ols_slope, ols_intercept = slope, intercept
    scale = None
    for _ in range(HUBER_ROUNDS):
        resid = F.abs(
            F.col("y") - (F.lit(intercept) + F.lit(slope) * F.col("x"))
        )
        mad = cc.agg(
            F.round(F.expr(
                f"percentile(abs(y - ({intercept!r} + {slope!r} * x)), 0.5)"
            ), 6).alias("mad")
        ).collect()[0]["mad"]
        scale = round_half_up(MAD_K * mad, 6)
        c = round_half_up(HUBER_C * scale, 6)
        w = F.round(
            F.when(resid <= c, F.lit(1.0)).otherwise(F.lit(c) / resid), 6
        )
        slope, intercept = wls(cc, w)
    final_resid = F.abs(
        F.col("y") - (F.lit(intercept) + F.lit(slope) * F.col("x"))
    )
    c_final = round_half_up(HUBER_C * scale, 6)
    out = cc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((final_resid > F.lit(c_final)).cast("int")).alias(
            "n_downweighted"
        ),
    ).select(
        "n",
        F.lit(round_half_up(ols_slope, 4)).alias("ols_slope"),
        F.lit(round_half_up(ols_intercept, 4)).alias("ols_intercept"),
        F.lit(round_half_up(slope, 4)).alias("huber_slope"),
        F.lit(round_half_up(intercept, 4)).alias("huber_intercept"),
        F.lit(round_half_up(scale, 4)).alias("scale"),
        "n_downweighted",
    )
    return out


def _duck_huber_sql() -> str:
    rounds = []
    prev = "c0"
    for r in range(1, HUBER_ROUNDS + 1):
        rounds.append(f"""
m{r} AS (
  SELECT round(quantile_cont(abs(b.y - (c.intercept + c.slope * b.x)), 0.5),
               6) AS mad
  FROM base b CROSS JOIN {prev} c
),
sc{r} AS (
  SELECT round({MAD_K} * mad, 6) AS scale,
    round({HUBER_C} * round({MAD_K} * mad, 6), 6) AS c
  FROM m{r}
),
w{r} AS (
  SELECT b.x, b.y,
    round(CASE WHEN abs(b.y - (p.intercept + p.slope * b.x)) <= s.c
               THEN CAST(1.0 AS DOUBLE)
               ELSE s.c / abs(b.y - (p.intercept + p.slope * b.x)) END,
          6) AS w
  FROM base b CROSS JOIN {prev} p CROSS JOIN sc{r} s
),
s{r} AS (
  SELECT round(sum(w), 4) AS sw, round(sum(w * x), 4) AS swx,
    round(sum(w * y), 4) AS swy, round(sum(w * x * x), 4) AS swxx,
    round(sum(w * x * y), 4) AS swxy
  FROM w{r}
),
c{r}a AS (
  SELECT round((sw * swxy - swx * swy) / (sw * swxx - swx * swx), 6)
    AS slope, sw, swx, swy
  FROM s{r}
),
c{r} AS (
  SELECT slope, round((swy - slope * swx) / sw, 6) AS intercept FROM c{r}a
)""")
        prev = f"c{r}"
    last = HUBER_ROUNDS
    return f"""{churn_cte('"')},
base AS (
  SELECT CAST("Age" AS DOUBLE) AS x, "Total Spend" AS y FROM churn_customers
),
s0 AS (
  SELECT round(sum(CAST(1.0 AS DOUBLE)), 4) AS sw, round(sum(x), 4) AS swx,
    round(sum(y), 4) AS swy, round(sum(x * x), 4) AS swxx,
    round(sum(x * y), 4) AS swxy
  FROM base
),
c0a AS (
  SELECT round((sw * swxy - swx * swy) / (sw * swxx - swx * swx), 6)
    AS slope, sw, swx, swy
  FROM s0
),
c0 AS (
  SELECT slope, round((swy - slope * swx) / sw, 6) AS intercept FROM c0a
),{",".join(rounds)}
SELECT
  CAST((SELECT count(*) FROM base) AS BIGINT) AS n,
  round(c0.slope, 4) AS ols_slope,
  round(c0.intercept, 4) AS ols_intercept,
  round(c{last}.slope, 4) AS huber_slope,
  round(c{last}.intercept, 4) AS huber_intercept,
  round(sc{last}.scale, 4) AS scale,
  CAST((SELECT count(*) FROM base b CROSS JOIN c{last} f CROSS JOIN sc{last} s
        WHERE abs(b.y - (f.intercept + f.slope * b.x)) > s.c)
       AS BIGINT) AS n_downweighted
FROM c0 CROSS JOIN c{last} CROSS JOIN sc{last}
"""


ORACLE["huber_spend_model"] = _duck_huber_sql()
QUERIES["huber_spend_model"] = huber_spend_model


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve over customer tenure (right-censored churn)
# ---------------------------------------------------------------------------


def kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator of customer survival over
    ``Tenure``: churned customers are events at their tenure, retained
    customers are right-censored there — THE standard churn-curve
    statistic (the reference app reports point churn rates; this is the
    time-to-event view those rates flatten away).

    Distributed shape: ONE hash agg collapses customers to the
    |distinct tenure| event table (d deaths + c censored per t); the
    risk sets and the product limit are windows over that vocabulary-
    bounded relation (≤ max-tenure rows at ANY customer count). The
    running product is exp(Σ ln(1−d/n)) with the factor rounded 8dp
    BEFORE the log so both engines exponentiate identical sums; a
    cumulative zero-flag handles the d=n boundary exactly (Spark
    ``log`` NULLs at 0 where DuckDB returns -inf — neither reaches the
    output). Survival and hazard round 4dp.
    """
    cc = churn_customers(spark, sf_dir)
    per_t = cc.groupBy(F.col("Tenure").alias("t")).agg(
        F.sum("Churn").alias("d"),
        F.sum(F.lit(1) - F.col("Churn")).alias("c"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = per_t.select(
        "t",
        "d",
        "c",
        (
            F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).alias("before"),
    ).crossJoin(
        F.broadcast(cc.agg(F.count(F.lit(1)).alias("n_total")))
    ).select(
        "t", "d", "c", (F.col("n_total") - F.col("before")).alias("n_at_risk")
    )
    factor = F.round(
        1.0 - F.col("d") / F.col("n_at_risk").cast("double"), 8
    )
    stepped = risk.select(
        "t",
        "d",
        "c",
        "n_at_risk",
        F.when(factor > 0, F.log(factor)).otherwise(F.lit(0.0)).alias("lnf"),
        (factor <= 0).cast("int").alias("hit_zero"),
    )
    return (
        stepped.select(
            "t",
            "n_at_risk",
            F.col("d").alias("d_events"),
            F.col("c").alias("c_censored"),
            F.when(
                F.max("hit_zero").over(w_cum) == 1, F.lit(0.0)
            )
            .otherwise(F.round(F.exp(F.sum("lnf").over(w_cum)), 4))
            .alias("survival"),
            F.round(
                F.col("d") / F.col("n_at_risk").cast("double"), 4
            ).alias("hazard"),
        )
        .orderBy("t")
    )


ORACLE["kaplan_meier_churn"] = churn_cte('"') + """,
per_t AS (
  SELECT "Tenure" AS t,
    CAST(sum("Churn") AS BIGINT) AS d,
    CAST(sum(1 - "Churn") AS BIGINT) AS c
  FROM churn_customers GROUP BY "Tenure"
),
risk AS (
  SELECT t, d, c,
    (SELECT count(*) FROM churn_customers)
      - CAST(coalesce(sum(d + c) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS n_at_risk
  FROM per_t
),
stepped AS (
  SELECT t, d, c, n_at_risk,
    CASE WHEN round(1.0 - d / CAST(n_at_risk AS DOUBLE), 8) > 0
         THEN ln(round(1.0 - d / CAST(n_at_risk AS DOUBLE), 8))
         ELSE 0.0 END AS lnf,
    CASE WHEN round(1.0 - d / CAST(n_at_risk AS DOUBLE), 8) <= 0
         THEN 1 ELSE 0 END AS hit_zero
  FROM risk
)
SELECT t, n_at_risk, d AS d_events, c AS c_censored,
  CASE WHEN max(hit_zero) OVER (ORDER BY t
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
       THEN 0.0
       ELSE round(exp(sum(lnf) OVER (ORDER BY t
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) END
    AS survival,
  round(d / CAST(n_at_risk AS DOUBLE), 4) AS hazard
FROM stepped
ORDER BY t
"""
QUERIES["kaplan_meier_churn"] = kaplan_meier_churn


def logrank_contract_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank (Mantel-Cox) test: do Monthly-contract
    customers churn on a DIFFERENT survival curve than Quarterly/Annual
    ones? The inferential companion to ``kaplan_meier_churn`` — KM
    draws the curves, log-rank says whether they differ. At each event
    time t: observed group-1 deaths d1_t vs the hypergeometric
    expectation d_t·n1_t/n_t and variance
    d_t·(n1/n)·(1−n1/n)·(n−d)/(n−1); χ²₁ = (ΣO−ΣE)²/ΣV, p from the
    shared A&S tail, plus the Pike hazard-ratio estimate
    exp((O−E)/V).

    Distributed shape: ONE corpus-scale hash agg collapses customers
    to the tenure grain (≤ 73 rows at ANY corpus size — Tenure is
    domain-bounded); risk sets are windows over that tiny relation and
    the three cross-time sums are ORDERED plain-double folds over the
    time-sorted term list (the ``cmh_stratified_test`` discipline —
    identical IEEE chains per term, identical fold order on both
    engines). Degenerate times guard exactly: n_t = 1 contributes zero
    variance (hypergeometric with one subject is deterministic), and
    the χ²/HR divisions are NULL-guarded for V = 0 (ANSI rule).
    """
    from ..functions.normal import two_sided_p_sql

    cc = churn_customers(spark, sf_dir)
    g1 = (F.col("Contract Length") == "Monthly").cast("long")
    per_t = cc.groupBy(F.col("Tenure").alias("t")).agg(
        F.count(F.lit(1)).alias("r"),
        F.sum(g1).alias("r1"),
        F.sum("Churn").alias("d"),
        F.sum(g1 * F.col("Churn")).alias("d1"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    totals = cc.agg(
        F.count(F.lit(1)).alias("n_total"), F.sum(g1).alias("n1_total")
    )
    risk = (
        per_t.crossJoin(F.broadcast(totals))
        .select(
            "t",
            "d",
            "d1",
            (
                F.col("n_total")
                - F.coalesce(F.sum("r").over(w_prev), F.lit(0))
            ).alias("n"),
            (
                F.col("n1_total")
                - F.coalesce(F.sum("r1").over(w_prev), F.lit(0))
            ).alias("n1"),
        )
        .filter(F.col("d") > 0)
    )
    nd, n1d, dd = 'CAST(n AS DOUBLE)', 'CAST(n1 AS DOUBLE)', 'CAST(d AS DOUBLE)'
    terms = risk.select(
        "t",
        F.expr("CAST(d1 AS DOUBLE)").alias("to1"),
        F.expr(f"{dd} * n1 / {nd}").alias("te"),
        F.expr(
            f"CASE WHEN n > 1 THEN {dd} * ({n1d} / {nd})"
            f" * (CAST(1.0 AS DOUBLE) - {n1d} / {nd})"
            f" * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))"
            " ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("tv"),
    )
    packed = terms.agg(
        F.sort_array(
            F.collect_list(F.struct("t", "to1", "te", "tv"))
        ).alias("ks"),
        F.count(F.lit(1)).alias("n_event_times"),
    )

    def fsum(field: str) -> str:
        return (
            f"aggregate(transform(ks, x -> x.{field}),"
            " CAST(0.0 AS DOUBLE), (p, q) -> p + q)"
        )

    folded = packed.select(
        "n_event_times",
        F.expr(fsum("to1")).alias("so"),
        F.expr(fsum("te")).alias("se"),
        F.expr(fsum("tv")).alias("sv"),
    )
    chi2 = "round((so - se) * (so - se) / sv, 4)"
    return folded.select(
        "n_event_times",
        F.expr("CAST(so AS BIGINT)").alias("o1_events"),
        (F.round("se", 4) + F.lit(0.0)).alias("e1_expected"),
        (F.round("sv", 4) + F.lit(0.0)).alias("variance"),
        F.expr(
            f"CASE WHEN sv > 0 THEN {chi2} + CAST(0.0 AS DOUBLE) END"
        ).alias("chi2_logrank"),
        F.expr(
            f"CASE WHEN sv > 0 THEN {two_sided_p_sql(f'sqrt({chi2})')}"
            " END"
        ).alias("p_value"),
        F.expr(
            "CASE WHEN sv > 0 THEN round(exp((so - se) / sv), 4)"
            " + CAST(0.0 AS DOUBLE) END"
        ).alias("hazard_ratio"),
    )


def _duck_logrank_sql() -> str:
    from ..functions.normal import two_sided_p_sql

    nd, n1d, dd = "CAST(n AS DOUBLE)", "CAST(n1 AS DOUBLE)", "CAST(d AS DOUBLE)"

    def fsum(field: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(ks, x -> x.{field})), (p, q) -> p + q)"
        )

    chi2 = "round((so - se) * (so - se) / sv, 4)"
    return (
        churn_cte('"')
        + f""",
per_t AS (
  SELECT "Tenure" AS t,
    CAST(count(*) AS BIGINT) AS r,
    CAST(sum(CASE WHEN "Contract Length" = 'Monthly' THEN 1 ELSE 0 END)
      AS BIGINT) AS r1,
    CAST(sum("Churn") AS BIGINT) AS d,
    CAST(sum(CASE WHEN "Contract Length" = 'Monthly' THEN "Churn"
      ELSE 0 END) AS BIGINT) AS d1
  FROM churn_customers GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
    CAST(sum(CASE WHEN "Contract Length" = 'Monthly' THEN 1 ELSE 0 END)
      AS BIGINT) AS n1_total
  FROM churn_customers
),
risk AS (
  SELECT t, d, d1,
    tot.n_total - CAST(coalesce(sum(r) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS n,
    tot.n1_total - CAST(coalesce(sum(r1) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS n1
  FROM per_t, tot
),
terms AS (
  SELECT t, CAST(d1 AS DOUBLE) AS to1,
    {dd} * n1 / {nd} AS te,
    CASE WHEN n > 1 THEN {dd} * ({n1d} / {nd})
      * (CAST(1.0 AS DOUBLE) - {n1d} / {nd})
      * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
    ELSE CAST(0.0 AS DOUBLE) END AS tv
  FROM risk WHERE d > 0
),
packed AS (
  SELECT list(struct_pack(t := t, to1 := to1, te := te, tv := tv)
           ORDER BY t) AS ks,
    CAST(count(*) AS BIGINT) AS n_event_times
  FROM terms
),
folded AS (
  SELECT n_event_times,
    {fsum('to1')} AS so, {fsum('te')} AS se, {fsum('tv')} AS sv
  FROM packed
)
SELECT n_event_times,
  CAST(so AS BIGINT) AS o1_events,
  round(se, 4) + 0.0 AS e1_expected,
  round(sv, 4) + 0.0 AS variance,
  CASE WHEN sv > 0 THEN {chi2} + CAST(0.0 AS DOUBLE) END AS chi2_logrank,
  CASE WHEN sv > 0 THEN {two_sided_p_sql(f'sqrt({chi2})')} END AS p_value,
  CASE WHEN sv > 0 THEN round(exp((so - se) / sv), 4)
    + CAST(0.0 AS DOUBLE) END AS hazard_ratio
FROM folded
"""
    )


ORACLE["logrank_contract_test"] = _duck_logrank_sql()
QUERIES["logrank_contract_test"] = logrank_contract_test


# ---------------------------------------------------------------------------
# interarrival burstiness (Goh-Barabási B and CV²)
# ---------------------------------------------------------------------------


def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of each event type's per-user interarrival process:
    CV² = σ²/μ² and the Goh-Barabási index B = (σ−μ)/(σ+μ) over the
    pooled per-user gaps (B→−1 periodic, 0 Poisson, →1 maximally
    bursty) — the temporal signature that decides rate-limiting, state
    TTLs, and watermark widths (``watermark_sizing_stats`` measures
    lateness; this measures clumping).

    One (user, type)-partitioned lag window produces the gap column;
    one sufficient-stats agg per type folds μ/σ — no per-user state
    materializes. Gaps round 4dp (seconds) before the moments so both
    engines aggregate identical doubles; outputs round 4dp with the
    −0.0 guard (B is near 0 for Poisson-ish data).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = ev.select(
        "event_type",
        F.round(
            (
                F.unix_micros("ts")
                - F.lag(F.unix_micros("ts")).over(w)
            ).cast("double")
            / 1e6,
            4,
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    mu = F.avg("gap_s")
    sigma = F.stddev_pop("gap_s")
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(mu, 4).alias("mean_gap_s"),
            F.round(sigma, 4).alias("std_gap_s"),
            # all-zero gaps (identical timestamps): 0/0 is NaN on Spark
            # but NULL on DuckDB doubles — make both sides NULL
            F.when(
                mu > 0, F.round(sigma * sigma / (mu * mu), 4)
            ).alias("cv2"),
            (
                F.when(
                    mu > 0,
                    F.round((sigma - mu) / (sigma + mu), 4) + F.lit(0.0),
                )
            ).alias("burstiness_b"),
        )
        .orderBy("event_type")
    )


ORACLE["interarrival_burstiness"] = """
WITH gaps AS (
  SELECT event_type,
    round(CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
      PARTITION BY user_id, event_type ORDER BY ts, event_id)
      AS DOUBLE) / 1e6, 4) AS gap_s
  FROM events
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_gaps,
  round(avg(gap_s), 4) AS mean_gap_s,
  round(stddev_pop(gap_s), 4) AS std_gap_s,
  CASE WHEN avg(gap_s) > 0 THEN
    round(stddev_pop(gap_s) * stddev_pop(gap_s)
          / (avg(gap_s) * avg(gap_s)), 4) END AS cv2,
  CASE WHEN avg(gap_s) > 0 THEN
    round((stddev_pop(gap_s) - avg(gap_s))
          / (stddev_pop(gap_s) + avg(gap_s)), 4) + 0.0 END AS burstiness_b
FROM gaps
WHERE gap_s IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""
QUERIES["interarrival_burstiness"] = interarrival_burstiness


# ---------------------------------------------------------------------------
# Wald SPRT sequential A/B monitor (integer-scaled log-likelihood walk)
# ---------------------------------------------------------------------------

SPRT_P0 = 0.18  # H0 conversion rate
SPRT_P1 = 0.22  # H1 (minimum detectable) conversion rate
SPRT_ALPHA = 0.05
SPRT_BETA = 0.2
# per-observation LLR increments and Wald boundaries as 1e6-scaled
# INTEGERS, computed ONCE here and rendered into both engines' plans —
# no engine ever evaluates ln(), so the cumulative walk is exact integer
# arithmetic and the crossing day can never differ between engines
_SPRT_INC1 = round(_math.log(SPRT_P1 / SPRT_P0) * 1e6)
_SPRT_INC0 = round(_math.log((1 - SPRT_P1) / (1 - SPRT_P0)) * 1e6)
_SPRT_UP = round(_math.log((1 - SPRT_BETA) / SPRT_ALPHA) * 1e6)
_SPRT_LO = round(_math.log(SPRT_BETA / (1 - SPRT_ALPHA)) * 1e6)


def sprt_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT (1945) run as a daily monitoring relation over the
    B arm's conversion stream — the always-valid sequential test a
    peeking-safe experimentation platform evaluates every ingest cycle
    instead of a fixed-horizon z-test (``cuped_adjusted_ab``'s
    complement: CUPED shrinks variance, SPRT bounds the STOPPING rule's
    error at α/β under continuous monitoring).

    Per day: observations, conversions (``purchase`` events), the
    cumulative log-likelihood-ratio walk, and the Wald decision
    (``accept_h1`` / ``accept_h0`` / ``continue``). The LLR is
    Σ x·ln(p1/p0) + (1−x)·ln(q1/q0) — computed entirely in 1e6-scaled
    integers (constants precomputed above), so the walk is ORDER-FREE
    exact and cross-engine identical with no rounding recipe.

    Scale shape: one partial-aggregating shuffle to the calendar-bounded
    daily relation; the cumulative window runs over ≤ days rows. The
    decision column deliberately keeps post-crossing days (a monitor
    shows the whole trajectory; the first non-continue row is the stop).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 2 == 1
    )
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("n_conv"),
        )
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    llr = F.sum(
        F.col("n_conv") * F.lit(_SPRT_INC1)
        + (F.col("n_obs") - F.col("n_conv")) * F.lit(_SPRT_INC0)
    ).over(w)
    return (
        daily.withColumn("llr_scaled", llr.cast("long"))
        .select(
            "day",
            "n_obs",
            "n_conv",
            "llr_scaled",
            F.when(F.col("llr_scaled") >= _SPRT_UP, "accept_h1")
            .when(F.col("llr_scaled") <= _SPRT_LO, "accept_h0")
            .otherwise("continue")
            .alias("decision"),
        )
        .orderBy("day")
    )


ORACLE["sprt_ab_monitor"] = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_obs,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS n_conv
  FROM events WHERE user_id % 2 = 1
  GROUP BY 1
),
walk AS (
  SELECT day, n_obs, n_conv,
    CAST(sum(n_conv * {_SPRT_INC1} + (n_obs - n_conv) * {_SPRT_INC0})
      OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS llr_scaled
  FROM daily
)
SELECT day, n_obs, n_conv, llr_scaled,
  CASE WHEN llr_scaled >= {_SPRT_UP} THEN 'accept_h1'
       WHEN llr_scaled <= {_SPRT_LO} THEN 'accept_h0'
       ELSE 'continue' END AS decision
FROM walk
ORDER BY day
"""
QUERIES["sprt_ab_monitor"] = sprt_ab_monitor


# ---------------------------------------------------------------------------
# Difference-in-differences (two-group, two-period panel estimator)
# ---------------------------------------------------------------------------


def did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the events panel — the causal
    readout for a NON-randomized rollout, completing the experiment
    shelf next to the randomized-split z-test, CUPED, IPS and SPRT:
    treated = ``user_id % 2 = 0`` (the shelf's split rule), periods cut
    at ``CUPED_SPLIT_TS``; the estimand is
    (ΔT,post−pre) − (ΔC,post−pre), which nets out both the group level
    difference and the common time trend.

    Unit of analysis is the USER (panel form): per-user period means
    first (one partial-aggregating pass over events), then the four
    (group, period) cells come from ONE conditional aggregate over the
    per-user relation — at 100 TB that second aggregate reads
    |users|·2 rows, and nothing shuffles twice. SE is the four-cell
    Welch combination √Σ s²_g/n_g with a normal-approx t stat — the
    standard cluster-robust-lite readout when users are the clusters.

    Cross-engine: user-period means round 4dp (house double rule);
    cell means/vars round at the aggregate (``var_samp`` ≡ DuckDB
    ``var_samp``); the DiD combination is pure arithmetic over the
    rounded cells with ±0.0 guards on every column that straddles 0."""
    ev = load_table(spark, sf_dir, "events")
    upm = (
        ev.groupBy(
            "user_id",
            (F.col("ts") >= F.lit(CUPED_SPLIT_TS).cast("timestamp")).alias(
                "post"
            ),
        )
        .agg(F.round(F.avg("value"), 4).alias("m"))
        .select(
            (F.col("user_id") % 2 == 0).alias("treated"), "post", "m"
        )
    )

    def cell(tr: bool, po: bool, what) -> F.Column:
        return what(
            F.when(
                (F.col("treated") == tr) & (F.col("post") == po),
                F.col("m"),
            )
        )

    agg = upm.agg(
        *[
            F.count(cell(tr, po, lambda c: c)).alias(f"n_{tag}")
            for tr, po, tag in [
                (True, False, "t_pre"),
                (True, True, "t_post"),
                (False, False, "c_pre"),
                (False, True, "c_post"),
            ]
        ],
        *[
            F.round(cell(tr, po, F.avg), 4).alias(f"m_{tag}")
            for tr, po, tag in [
                (True, False, "t_pre"),
                (True, True, "t_post"),
                (False, False, "c_pre"),
                (False, True, "c_post"),
            ]
        ],
        *[
            F.round(cell(tr, po, F.var_samp), 4).alias(f"v_{tag}")
            for tr, po, tag in [
                (True, False, "t_pre"),
                (True, True, "t_post"),
                (False, False, "c_pre"),
                (False, True, "c_post"),
            ]
        ],
    )
    did = (F.col("m_t_post") - F.col("m_t_pre")) - (
        F.col("m_c_post") - F.col("m_c_pre")
    )
    se = F.sqrt(
        F.col("v_t_post") / F.col("n_t_post")
        + F.col("v_t_pre") / F.col("n_t_pre")
        + F.col("v_c_post") / F.col("n_c_post")
        + F.col("v_c_pre") / F.col("n_c_pre")
    )
    return agg.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        "m_t_pre",
        "m_t_post",
        "m_c_pre",
        "m_c_post",
        (F.round(did, 4) + F.lit(0.0)).alias("did_estimate"),
        (F.round(se, 4) + F.lit(0.0)).alias("se"),
        (F.round(did / se, 4) + F.lit(0.0)).alias("t_stat"),
    )


def _duck_did_sql() -> str:
    cells = [
        (True, False, "t_pre"),
        (True, True, "t_post"),
        (False, False, "c_pre"),
        (False, True, "c_post"),
    ]

    def c(tr, po, fn):
        return (
            f"{fn}(CASE WHEN treated = {str(tr).lower()} AND post = "
            f"{str(po).lower()} THEN m END)"
        )

    ns = ", ".join(
        f"CAST({c(tr, po, 'count')} AS BIGINT) AS n_{tag}"
        for tr, po, tag in cells
    )
    ms = ", ".join(
        f"round({c(tr, po, 'avg')}, 4) AS m_{tag}" for tr, po, tag in cells
    )
    vs = ", ".join(
        f"round({c(tr, po, 'var_samp')}, 4) AS v_{tag}"
        for tr, po, tag in cells
    )
    did = "((m_t_post - m_t_pre) - (m_c_post - m_c_pre))"
    se = (
        "sqrt(v_t_post / n_t_post + v_t_pre / n_t_pre"
        " + v_c_post / n_c_post + v_c_pre / n_c_pre)"
    )
    return f"""
WITH upm AS (
  SELECT (user_id % 2 = 0) AS treated,
    ts >= TIMESTAMP '{CUPED_SPLIT_TS}' AS post,
    round(avg(value), 4) AS m
  FROM events GROUP BY user_id, 2
),
cells AS (SELECT {ns}, {ms}, {vs} FROM upm)
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
  m_t_pre, m_t_post, m_c_pre, m_c_post,
  round({did}, 4) + 0.0 AS did_estimate,
  round({se}, 4) + 0.0 AS se,
  round({did} / ({se}), 4) + 0.0 AS t_stat
FROM cells
"""


ORACLE["did_estimate"] = _duck_did_sql()
QUERIES["did_estimate"] = did_estimate


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the per-user deviation screen
# ---------------------------------------------------------------------------

BH_MIN_EVENTS = 50  # normal-approx floor for the per-user z
BH_Q = 0.1  # target false-discovery rate


def bh_fdr_user_deviations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FDR-controlled anomaly screen: for every active user (≥50
    events), test H0 "this user's mean event value equals the global
    mean" with a one-sample z, then apply Benjamini-Hochberg step-up
    across the whole family — the multiple-testing discipline every
    per-entity monitoring sweep needs (at q=0.10 a Bonferroni screen
    rejects nothing here; BH recovers the one real deviator without
    opening the false-discovery floodgate of raw p<0.05, which would
    flag ~7 null users). Emits rank, p, the BH threshold, the step-up
    verdict, and the monotone q-value (min_{j≥i} m·p_j/j).

    Distributed shape: ONE partial-aggregating groupBy(user_id) pass
    collapses events to per-user sufficient stats; the global mean is a
    1-row broadcast. All window work (rank, step-up max, reverse
    running-min q-value) runs over the |screened users| relation — at
    100 TB that is still millions of rows through an unpartitioned
    rank, so the scale path is the two-level prefix-sum midrank trick
    (``mann_whitney_value_test``): ranks are global prefix counts,
    computable per-range + offset. The p-value itself comes from the
    shared A&S 26.2.17 polynomial (`functions/normal.py`) — no scipy on
    executors, identical text both engines.

    Cross-engine: per-user mean/var and the global mean round 4dp; z is
    one shared-order IEEE chain over those rounded inputs, rounded 4dp
    BEFORE the polynomial so `exp` sees the same double; ranks break
    p-ties by user_id (total order). Zero-variance users are excluded
    (nested guard — ANSI rule). BH comparisons use exact rank·q/m
    arithmetic on identical literals.
    """
    from ..functions.normal import two_sided_p_sql

    ev = load_table(spark, sf_dir, "events")
    glob = ev.agg(F.round(F.avg("value"), 4).alias("mu"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("m"),
            F.round(F.var_samp("value"), 4).alias("vv"),
        )
        .filter((F.col("n") >= BH_MIN_EVENTS) & (F.col("vv") > 0))
    )
    z = F.round(
        (F.col("m") - F.col("mu"))
        / F.sqrt(F.col("vv") / F.col("n")),
        4,
    )
    scored = per_user.crossJoin(F.broadcast(glob)).select(
        "user_id",
        "n",
        "m",
        (z + F.lit(0.0)).alias("z"),
    )
    scored = scored.select(
        "user_id", "n", "m", "z", F.expr(two_sided_p_sql("z")).alias("p")
    )
    w_rank = Window.orderBy("p", "user_id")
    w_all = Window.orderBy("p", "user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = scored.select(
        "*",
        F.row_number().over(w_rank).alias("rank"),
        F.count(F.lit(1)).over(w_all).alias("m_tests"),
    )
    thresh = (
        F.col("rank").cast("double")
        * F.lit(BH_Q)
        / F.col("m_tests").cast("double")
    )
    stepped = ranked.select(
        "*",
        F.round(thresh, 6).alias("bh_thresh"),
        F.max(
            F.when(F.col("p") <= thresh, F.col("rank"))
        ).over(w_all).alias("k_max"),
    )
    w_rev = Window.orderBy(F.col("rank").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    raw_q = (
        F.col("m_tests").cast("double")
        * F.col("p")
        / F.col("rank").cast("double")
    )
    return stepped.select(
        "user_id",
        "n",
        "m",
        "z",
        "p",
        "rank",
        "bh_thresh",
        (F.col("rank") <= F.coalesce(F.col("k_max"), F.lit(0))).alias(
            "rejected"
        ),
        (
            F.round(F.least(F.lit(1.0), F.min(raw_q).over(w_rev)), 4)
            + F.lit(0.0)
        ).alias("q_value"),
    ).orderBy("rank")


def _duck_bh_sql() -> str:
    from ..functions.normal import two_sided_p_sql

    q = repr(BH_Q)
    return f"""
WITH gmu AS (SELECT round(avg(value), 4) AS mu FROM events),
per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
    round(avg(value), 4) AS m, round(var_samp(value), 4) AS vv
  FROM events GROUP BY user_id
  HAVING count(*) >= {BH_MIN_EVENTS} AND round(var_samp(value), 4) > 0
),
scored0 AS (
  SELECT user_id, n, m,
    round((m - mu) / sqrt(vv / n), 4) + 0.0 AS z
  FROM per_user CROSS JOIN gmu
),
scored AS (
  SELECT user_id, n, m, z, {two_sided_p_sql("z")} AS p FROM scored0
),
ranked AS (
  SELECT *,
    CAST(row_number() OVER (ORDER BY p, user_id) AS INT) AS rank,
    CAST(count(*) OVER () AS BIGINT) AS m_tests
  FROM scored
),
stepped AS (
  SELECT *,
    round(CAST(rank AS DOUBLE) * CAST({q} AS DOUBLE)
          / CAST(m_tests AS DOUBLE), 6) AS bh_thresh,
    max(CASE WHEN p <= CAST(rank AS DOUBLE) * CAST({q} AS DOUBLE)
                       / CAST(m_tests AS DOUBLE)
             THEN rank END) OVER () AS k_max
  FROM ranked
)
SELECT user_id, n, m, z, p, rank, bh_thresh,
  rank <= coalesce(k_max, 0) AS rejected,
  round(least(CAST(1.0 AS DOUBLE),
    min(CAST(m_tests AS DOUBLE) * p / CAST(rank AS DOUBLE))
      OVER (ORDER BY rank DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) + 0.0
    AS q_value
FROM stepped
ORDER BY rank
"""


ORACLE["bh_fdr_user_deviations"] = _duck_bh_sql()
QUERIES["bh_fdr_user_deviations"] = bh_fdr_user_deviations


# ---------------------------------------------------------------------------
# segmented (two-piece) trend fit around the CUSUM changepoint
# ---------------------------------------------------------------------------


def segmented_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-piece linear trend per event type, broken at the CUSUM
    changepoint — the READOUT that completes ``cusum_changepoint``: the
    scan says WHERE the shift is, this fits what the trend was on each
    side (slope before / slope after / the slope delta), the
    before-after story a drift postmortem actually reports.

    The breakpoint comes from calling ``cusum_changepoint`` itself (one
    shared definition, not a re-derivation), broadcast back onto the
    daily relation — per-type 1-row keys, a broadcast hash join. Each
    side's OLS is closed-form sufficient statistics (n, Σt, Σt², Σty,
    Σy) from ONE conditional aggregate over the daily rows; no second
    pass, no iteration.

    Cross-engine exactness: t is the integer day offset from the
    per-type series start; y scales to exact 1e4 BIGINTs (daily x is
    4dp), so every sufficient statistic is an exact integer on both
    engines and the slope/intercept algebra is one identical
    double-division chain, rounded 4dp with ±0.0 guards. Degenerate
    sides (n < 2, zero t-variance) emit NULL via nested guards (ANSI
    rule). Overflow (the Gini DOUBLE-swap rule, applied): Σty and Σy
    are computed as DOUBLE sums on BOTH engines — at 100 TB a per-day
    1e4-scaled revenue sum times a calendar day-offset can pass 2⁶³,
    where ANSI Spark throws while DuckDB silently widens to HUGEINT.
    The DOUBLE sums stay EXACT (hence order-independent and
    cross-engine equal) while every addend is an integer below 2⁵³,
    which holds at every test SF; n/Σt/Σt² stay BIGINT (calendar-
    bounded t makes them safe at any corpus size).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("x"))
    brk = cusum_changepoint(spark, sf_dir).select(
        "event_type", "changepoint_day"
    )
    start = daily.groupBy("event_type").agg(F.min("day").alias("day0"))
    pts = (
        daily.join(F.broadcast(brk), "event_type")
        .join(F.broadcast(start), "event_type")
        .select(
            "event_type",
            "changepoint_day",
            F.datediff("day", "day0").alias("t"),
            F.round(F.col("x") * 10000, 0).cast("long").alias("y_i4"),
            (F.col("day") <= F.col("changepoint_day")).alias("is_left"),
        )
    )

    def side_stats(left: bool, tag: str):
        m = F.when(F.col("is_left") == left, F.lit(1)).otherwise(F.lit(0))
        return [
            F.sum(m).alias(f"n_{tag}"),
            F.sum(m * F.col("t")).alias(f"st_{tag}"),
            F.sum(m * F.col("t") * F.col("t")).alias(f"stt_{tag}"),
            F.sum(
                (m * F.col("t")).cast("double")
                * F.col("y_i4").cast("double")
            ).alias(f"sty_{tag}"),
            F.sum(m.cast("double") * F.col("y_i4").cast("double")).alias(
                f"sy_{tag}"
            ),
        ]

    agg = pts.groupBy("event_type", "changepoint_day").agg(
        *side_stats(True, "l"), *side_stats(False, "r")
    )

    def fit(tag: str):
        # Fixed-point discipline: round ONLY at integer positions
        # (integer halves are exactly representable, so binary-rounding
        # Spark and decimal-repr-rounding DuckDB cannot disagree), then
        # divide by 1e4 for display — k/1e4 reprs identically on both.
        # round(x, 4) on this chain DID diverge: the intercept landed on
        # 4047.9216499999998, whose shortest repr "….92165" DuckDB
        # rounds up while Spark rounds the binary value down.
        n = F.col(f"n_{tag}")
        st, stt = F.col(f"st_{tag}"), F.col(f"stt_{tag}")
        sty, sy = F.col(f"sty_{tag}"), F.col(f"sy_{tag}")
        den = n * stt - st * st
        num = n.cast("double") * sty - st.cast("double") * sy
        slope_i4 = F.round(num / den.cast("double"), 0).cast("long")
        icept_i4 = F.round(
            (sy - slope_i4.cast("double") * st.cast("double"))
            / n.cast("double"),
            0,
        ).cast("long")
        guard = lambda c: F.when(n >= 2, F.when(den > 0, c))
        return guard(slope_i4), guard(icept_i4)

    sl, il = fit("l")
    sr, ir = fit("r")
    dsc = lambda c: c.cast("double") / F.lit(10000.0)
    return agg.select(
        "event_type",
        "changepoint_day",
        F.col("n_l").alias("n_left"),
        F.col("n_r").alias("n_right"),
        (dsc(sl) + F.lit(0.0)).alias("slope_left"),
        (dsc(sr) + F.lit(0.0)).alias("slope_right"),
        (dsc(sr - sl) + F.lit(0.0)).alias("slope_delta"),
        (dsc(il) + F.lit(0.0)).alias("intercept_left"),
        (dsc(ir) + F.lit(0.0)).alias("intercept_right"),
    ).orderBy("event_type")


def _duck_segmented_sql() -> str:
    def side(cond: str, tag: str) -> str:
        m = f"CASE WHEN {cond} THEN 1 ELSE 0 END"
        return (
            f"CAST(sum({m}) AS BIGINT) AS n_{tag}, "
            f"CAST(sum({m} * t) AS BIGINT) AS st_{tag}, "
            f"CAST(sum({m} * t * t) AS BIGINT) AS stt_{tag}, "
            f"sum({m} * t * CAST(y_i4 AS DOUBLE)) AS sty_{tag}, "
            f"sum({m} * CAST(y_i4 AS DOUBLE)) AS sy_{tag}"
        )

    def fit(tag: str) -> str:
        n, st, stt = f"n_{tag}", f"st_{tag}", f"stt_{tag}"
        sty, sy = f"sty_{tag}", f"sy_{tag}"
        den = f"({n} * {stt} - {st} * {st})"
        num = (
            f"(CAST({n} AS DOUBLE) * {sty}"
            f" - CAST({st} AS DOUBLE) * {sy})"
        )
        slope_i4 = (
            f"CAST(round({num} / CAST({den} AS DOUBLE)"
            ", 0) AS BIGINT)"
        )
        icept_i4 = (
            f"CAST(round(({sy} - CAST({slope_i4} AS DOUBLE)"
            f" * CAST({st} AS DOUBLE))"
            f" / CAST({n} AS DOUBLE), 0) AS BIGINT)"
        )
        g = lambda c: f"CASE WHEN {n} >= 2 AND {den} > 0 THEN {c} END"
        return g(slope_i4), g(icept_i4)

    sl, il = fit("l")
    sr, ir = fit("r")
    dsc = lambda c: f"(CAST(({c}) AS DOUBLE) / CAST(10000.0 AS DOUBLE))"
    return f"""
WITH {_CUSUM_CTES},
brk AS (
  SELECT event_type, day AS changepoint_day FROM ranked WHERE rn = 1
),
start AS (SELECT event_type, min(day) AS day0 FROM daily GROUP BY 1),
pts AS (
  SELECT d.event_type, b.changepoint_day,
    datediff('day', st.day0, d.day) AS t,
    CAST(round(d.x * 10000, 0) AS BIGINT) AS y_i4,
    d.day <= b.changepoint_day AS is_left
  FROM daily d
  JOIN brk b ON b.event_type = d.event_type
  JOIN start st ON st.event_type = d.event_type
),
agg AS (
  SELECT event_type, changepoint_day,
    {side("is_left", "l")},
    {side("NOT is_left", "r")}
  FROM pts GROUP BY 1, 2
)
SELECT event_type, changepoint_day, n_l AS n_left, n_r AS n_right,
  {dsc(sl)} + 0.0 AS slope_left,
  {dsc(sr)} + 0.0 AS slope_right,
  {dsc(f"({sr}) - ({sl})")} + 0.0 AS slope_delta,
  {dsc(il)} + 0.0 AS intercept_left,
  {dsc(ir)} + 0.0 AS intercept_right
FROM agg
ORDER BY event_type
"""


ORACLE["segmented_trend_fit"] = _duck_segmented_sql()
QUERIES["segmented_trend_fit"] = segmented_trend_fit


# ---------------------------------------------------------------------------
# Cochran-Mantel-Haenszel stratified 2x2 test
# ---------------------------------------------------------------------------

CMH_VALUE_THRESHOLD = 40.0  # event "success" = value >= this


def cmh_stratified_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test across event-type strata: does the
    user-parity split shift the high-value rate, CONTROLLING for event
    type? The stratified companion to ``ab_conversion_ztest`` — when
    exposure mix differs between arms, the pooled 2×2 table is
    Simpson-confounded and CMH is the readout a careful experimenter
    uses. Emits the continuity-corrected χ²₁, its p-value (shared A&S
    polynomial — χ²₁ survival = 2Φ(−√x)), and the Mantel-Haenszel
    common odds ratio.

    Distributed shape: the 2×2×K cells come from ONE conditional
    aggregate over events (K = |event types|); everything after is
    algebra on the K-row relation. Each cross-stratum float sum is an
    ORDERED PLAIN-DOUBLE fold over the stratum-sorted term list
    (``source_lang_entropy`` discipline; plain-double list folds are
    the one fold form DuckDB 1.0 evaluates correctly — struct
    accumulators are banned per the holt-winters finding) — K is
    vocabulary-bounded so the collect is tiny.

    Cross-engine: cells are exact BIGINTs; each per-stratum term is one
    identical IEEE chain; the five fold chains add identical doubles in
    identical order; χ²/OR/p are single divisions rounded 4dp (generic
    values — not a fixed-point chain, so the repr-vs-binary trap
    doesn't bite).
    """
    from ..functions.normal import two_sided_p_sql

    ev = load_table(spark, sf_dir, "events")
    hit = (F.col("value") >= CMH_VALUE_THRESHOLD).cast("int")
    treat = (F.col("user_id") % 2 == 0).cast("int")
    cells = ev.groupBy(F.col("event_type").alias("stratum")).agg(
        F.sum(treat * hit).alias("a"),
        F.sum(treat * (1 - hit)).alias("b"),
        F.sum((1 - treat) * hit).alias("c"),
        F.sum((1 - treat) * (1 - hit)).alias("d"),
    )
    tt = "CAST(a + b + c + d AS DOUBLE)"
    terms = cells.select(
        "stratum",
        F.expr("CAST(a AS DOUBLE)").alias("ta"),
        F.expr(f"CAST(a + b AS DOUBLE) * (a + c) / {tt}").alias("te"),
        F.expr(
            f"CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)"
            f" / ({tt} * {tt} * ({tt} - CAST(1.0 AS DOUBLE)))"
        ).alias("tv"),
        F.expr(f"CAST(a AS DOUBLE) * d / {tt}").alias("tad"),
        F.expr(f"CAST(b AS DOUBLE) * c / {tt}").alias("tbc"),
    )
    packed = terms.agg(
        F.sort_array(
            F.collect_list(F.struct("stratum", "ta", "te", "tv", "tad", "tbc"))
        ).alias("ks"),
        F.count(F.lit(1)).alias("n_strata"),
    )

    def fsum(field: str) -> str:
        return (
            f"aggregate(transform(ks, x -> x.{field}),"
            " CAST(0.0 AS DOUBLE), (p, q) -> p + q)"
        )

    folded = packed.select(
        "n_strata",
        F.expr(fsum("ta")).alias("sa"),
        F.expr(fsum("te")).alias("se"),
        F.expr(fsum("tv")).alias("sv"),
        F.expr(fsum("tad")).alias("sad"),
        F.expr(fsum("tbc")).alias("sbc"),
    )
    chi2 = (
        "power(greatest(abs(sa - se) - CAST(0.5 AS DOUBLE),"
        " CAST(0.0 AS DOUBLE)), 2) / nullif(sv, CAST(0.0 AS DOUBLE))"
    )
    return folded.select(
        "n_strata",
        (F.round(F.expr(chi2), 4) + F.lit(0.0)).alias("chi2_cmh"),
        F.expr(two_sided_p_sql(f"sqrt({chi2})")).alias("p_value"),
        (
            F.round(F.expr("sad / nullif(sbc, CAST(0.0 AS DOUBLE))"), 4)
            + F.lit(0.0)
        ).alias("odds_ratio_mh"),
    )


def _duck_cmh_sql() -> str:
    from ..functions.normal import two_sided_p_sql

    tt = "CAST(a + b + c + d AS DOUBLE)"

    def fsum(field: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(ks, x -> x.{field})), (p, q) -> p + q)"
        )

    chi2 = (
        "pow(greatest(abs(sa - se) - CAST(0.5 AS DOUBLE),"
        " CAST(0.0 AS DOUBLE)), 2) / sv"
    )
    return f"""
WITH cells AS (
  SELECT event_type AS stratum,
    CAST(sum(CASE WHEN user_id % 2 = 0 AND value >= {CMH_VALUE_THRESHOLD!r}
      THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN user_id % 2 = 0 AND value < {CMH_VALUE_THRESHOLD!r}
      THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN user_id % 2 != 0 AND value >= {CMH_VALUE_THRESHOLD!r}
      THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(sum(CASE WHEN user_id % 2 != 0 AND value < {CMH_VALUE_THRESHOLD!r}
      THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM events GROUP BY 1
),
terms AS (
  SELECT stratum,
    CAST(a AS DOUBLE) AS ta,
    CAST(a + b AS DOUBLE) * (a + c) / {tt} AS te,
    CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
      / ({tt} * {tt} * ({tt} - CAST(1.0 AS DOUBLE))) AS tv,
    CAST(a AS DOUBLE) * d / {tt} AS tad,
    CAST(b AS DOUBLE) * c / {tt} AS tbc
  FROM cells
),
packed AS (
  SELECT list(struct_pack(stratum := stratum, ta := ta, te := te,
      tv := tv, tad := tad, tbc := tbc) ORDER BY stratum) AS ks,
    CAST(count(*) AS BIGINT) AS n_strata
  FROM terms
),
folded AS (
  SELECT n_strata, {fsum("ta")} AS sa, {fsum("te")} AS se,
    {fsum("tv")} AS sv, {fsum("tad")} AS sad, {fsum("tbc")} AS sbc
  FROM packed
)
SELECT n_strata,
  round({chi2}, 4) + 0.0 AS chi2_cmh,
  {two_sided_p_sql(f"sqrt({chi2})")} AS p_value,
  round(sad / sbc, 4) + 0.0 AS odds_ratio_mh
FROM folded
"""


ORACLE["cmh_stratified_test"] = _duck_cmh_sql()
QUERIES["cmh_stratified_test"] = cmh_stratified_test


# ---------------------------------------------------------------------------
# delete-one-day (block) jackknife SE for a global ratio metric
# ---------------------------------------------------------------------------


def jackknife_ratio_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-DAY jackknife standard error for the global
    revenue-per-click ratio — the resampling-free variance method for
    RATIO metrics, where the naive per-event variance is wrong (the
    denominator is random too) and days are the natural exchangeable
    blocks (events within a day correlate). Complements
    ``poisson_bootstrap_ci`` (per-unit bootstrap) with the block-
    deletion family every experimentation platform also ships.

    Distributed shape: ONE partial-aggregating pass collapses events to
    per-day sufficient statistics (Σ purchase value, click count); the
    D-row replicate relation (D = calendar days, bounded) carries the
    leave-one-out ratios via a window total — no second data pass, no
    D× replays (the delete-one identity R_d = (PV−pv_d)/(NC−nc_d)
    needs only the totals).

    Cross-engine: day sums are 1e4-scaled BIGINTs; each replicate ratio
    rounds at the integer position in 1e6 scale (the repr-rounding
    rule); the jackknife SSE uses exact integer Σr, Σr² ((Σr)² stays
    well under 2⁶³ for calendar-bounded D — scale note in line); the
    final se/CI chain is identical doubles rounded 4dp (generic class).
    Degenerate replicates (a day holding ALL clicks) are excluded with
    the count emitted.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        # scale to ints PER EVENT before summing — a float sum of 4dp
        # doubles is hash-agg-order dependent (contrastive_pair rule)
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 10000, 0).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("pv_i4"),
        F.sum(
            (F.col("event_type") == "click").cast("int")
        ).alias("nc"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    reps = daily.select(
        "day",
        "pv_i4",
        "nc",
        F.sum("pv_i4").over(w_all).alias("tpv_i4"),
        F.sum("nc").over(w_all).alias("tnc"),
    ).select(
        "tpv_i4",
        "tnc",
        F.when(
            F.col("tnc") - F.col("nc") > 0,
            F.round(
                (F.col("tpv_i4") - F.col("pv_i4")).cast("double")
                * F.lit(100.0)  # i4 → i6 scale for the ratio
                / (F.col("tnc") - F.col("nc")).cast("double"),
                0,
            ).cast("long"),
        ).alias("r_i6"),
    )
    agg = reps.agg(
        F.max("tpv_i4").alias("tpv_i4"),
        F.max("tnc").alias("tnc"),
        F.count(F.lit(1)).alias("n_days"),
        F.count("r_i6").alias("d_valid"),
        F.sum("r_i6").alias("sr"),
        F.sum(F.col("r_i6") * F.col("r_i6")).alias("srr"),
    )
    dd = F.nullif(F.col("d_valid").cast("double"), F.lit(0.0))
    sse = (
        F.col("srr").cast("double")
        - F.col("sr").cast("double") * F.col("sr").cast("double") / dd
    ) / F.lit(1.0e12)
    se = F.sqrt((dd - 1) / dd * sse)
    ratio = (
        F.col("tpv_i4").cast("double")
        / F.lit(10000.0)
        / F.col("tnc").cast("double")
    )
    return agg.select(
        "n_days",
        "d_valid",
        (F.round(ratio, 4) + F.lit(0.0)).alias("revenue_per_click"),
        (F.round(se, 4) + F.lit(0.0)).alias("jackknife_se"),
        (F.round(ratio - F.lit(1.96) * se, 4) + F.lit(0.0)).alias("ci_lo"),
        (F.round(ratio + F.lit(1.96) * se, 4) + F.lit(0.0)).alias("ci_hi"),
    )


ORACLE["jackknife_ratio_se"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(sum(CASE WHEN event_type = 'purchase'
      THEN CAST(round(value * 10000, 0) AS BIGINT)
      ELSE 0 END) AS BIGINT) AS pv_i4,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      AS BIGINT) AS nc
  FROM events GROUP BY 1
),
reps AS (
  SELECT
    CAST(sum(pv_i4) OVER () AS BIGINT) AS tpv_i4,
    CAST(sum(nc) OVER () AS BIGINT) AS tnc,
    pv_i4, nc
  FROM daily
),
rs AS (
  SELECT tpv_i4, tnc,
    CASE WHEN tnc - nc > 0 THEN
      CAST(round(CAST(tpv_i4 - pv_i4 AS DOUBLE) * CAST(100.0 AS DOUBLE)
        / CAST(tnc - nc AS DOUBLE), 0) AS BIGINT)
    END AS r_i6
  FROM reps
),
agg AS (
  SELECT max(tpv_i4) AS tpv_i4, max(tnc) AS tnc,
    CAST(count(*) AS BIGINT) AS n_days,
    CAST(count(r_i6) AS BIGINT) AS d_valid,
    CAST(sum(r_i6) AS BIGINT) AS sr,
    CAST(sum(r_i6 * r_i6) AS BIGINT) AS srr
  FROM rs
)
SELECT n_days, d_valid,
  round(CAST(tpv_i4 AS DOUBLE) / CAST(10000.0 AS DOUBLE)
    / CAST(tnc AS DOUBLE), 4) + 0.0 AS revenue_per_click,
  round(sqrt((CAST(d_valid AS DOUBLE) - 1) / CAST(d_valid AS DOUBLE)
    * ((CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
        / CAST(d_valid AS DOUBLE)) / CAST(1.0e12 AS DOUBLE))), 4) + 0.0
    AS jackknife_se,
  round(CAST(tpv_i4 AS DOUBLE) / CAST(10000.0 AS DOUBLE)
      / CAST(tnc AS DOUBLE)
    - CAST(1.96 AS DOUBLE)
      * sqrt((CAST(d_valid AS DOUBLE) - 1) / CAST(d_valid AS DOUBLE)
        * ((CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
            / CAST(d_valid AS DOUBLE)) / CAST(1.0e12 AS DOUBLE))), 4)
    + 0.0 AS ci_lo,
  round(CAST(tpv_i4 AS DOUBLE) / CAST(10000.0 AS DOUBLE)
      / CAST(tnc AS DOUBLE)
    + CAST(1.96 AS DOUBLE)
      * sqrt((CAST(d_valid AS DOUBLE) - 1) / CAST(d_valid AS DOUBLE)
        * ((CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
            / CAST(d_valid AS DOUBLE)) / CAST(1.0e12 AS DOUBLE))), 4)
    + 0.0 AS ci_hi
FROM agg
"""
QUERIES["jackknife_ratio_se"] = jackknife_ratio_se


# ---------------------------------------------------------------------------
# Cox proportional-hazards regression (Breslow ties, Newton-Raphson)
# ---------------------------------------------------------------------------

COX_ROUNDS = 4  # Newton iterations (1-d partial likelihood: quadratic conv.)
COX_TERM_SCALE = 100000000.0  # score/info terms -> exact 1e8 BIGINTs
COX_LL_SCALE = 1000000.0  # log-lik terms -> exact 1e6 BIGINTs


def cox_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards fit on the churn table — survival
    REGRESSION next to the Kaplan-Meier curve (`kaplan_meier_churn`):
    time = Tenure, event = Churn, covariate x = Support Calls. Emits
    the Newton trajectory: post-update beta, its hazard ratio e^beta,
    and the pre-update score/information/log-partial-likelihood
    (Breslow tie handling — Tenure has 73 distinct values over ~1.5k
    rows at sf0.01, so ties are the norm, exactly why Breslow).

    Scale shape — the part that matters at 100 TB: ONE data pass
    collapses rows to the (tenure x support-calls) CONTINGENCY (domain-
    bounded at 73x21 cells regardless of row count; partial-aggregating
    groupBy), and the ENTIRE Newton loop — risk-set suffix sums, score,
    information, likelihood — runs on that localCheckpointed cell
    relation. Per round the driver receives 3 fit scalars (the
    BPE-loop contract); no per-row state, no second data scan, ever.
    The risk-set sums Sum_{T_i >= t} x^k e^{beta x_i} are DESCENDING
    cumulative windows over the 73-row per-tenure relation.

    Cross-engine exactness (the logreg fixed-point discipline): beta is
    6dp-rounded at every boundary; e^{beta x} acts on identical doubles
    (house exp precedent); per-cell weighted masses round to 1e8
    BIGINTs BEFORE the per-tenure and suffix sums (order-free); the
    score/info/log-lik per-event terms are single double chains over
    those ints, re-scaled to BIGINTs before the final reduction. The
    emitted score/info/log-lik are the EXACT int/scale divisions with
    no re-rounding (the 1e-8-granularity near-half repr trap); beta is
    6dp by construction and the hazard ratio rounds a fresh exp()
    4dp (the sigmoid class). BIGINT headroom: cell masses carry
    n_cell * e^{20 beta} * 1e8 — beta stabilizes ~0.1 here; past
    ~1e9 rows/cell drop COX_TERM_SCALE to 1e6.
    """
    cells = (
        churn_customers(spark, sf_dir)
        .select(
            F.col("Tenure").cast("long").alias("tn"),
            F.col("Support Calls").cast("long").alias("x"),
            F.col("Churn").cast("long").alias("y"),
        )
        .groupBy("tn", "x")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("d"))
        .localCheckpoint()
    )
    beta = 0.0
    rows = []
    for rnd in range(1, COX_ROUNDS + 1):
        w = F.exp(F.lit(beta) * F.col("x"))
        sc = F.lit(COX_TERM_SCALE)
        wc = cells.select(
            "tn",
            "d",
            (F.col("d") * F.col("x")).alias("dx"),
            F.round(F.col("n") * w * sc, 0).cast("long").alias("a_i"),
            F.round(F.col("n") * F.col("x") * w * sc, 0)
            .cast("long")
            .alias("b_i"),
            F.round(F.col("n") * F.col("x") * F.col("x") * w * sc, 0)
            .cast("long")
            .alias("g_i"),
        )
        pt = wc.groupBy("tn").agg(
            F.sum("a_i").alias("at"),
            F.sum("b_i").alias("bt"),
            F.sum("g_i").alias("gt"),
            F.sum("d").alias("dt"),
            F.sum("dx").alias("st"),
        )
        sw = Window.orderBy(F.desc("tn")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        sx = pt.select(
            "tn",
            "dt",
            "st",
            F.sum("at").over(sw).alias("ar"),
            F.sum("bt").over(sw).alias("br"),
            F.sum("gt").over(sw).alias("gr"),
        ).filter(F.col("dt") > 0)
        ba = F.col("br").cast("double") / F.col("ar").cast("double")
        ga = F.col("gr").cast("double") / F.col("ar").cast("double")
        u_t = (F.col("st") - F.col("dt") * ba) * sc
        i_t = F.col("dt") * (ga - ba * ba) * sc
        ll_t = (
            F.col("st") * F.lit(beta)
            - F.col("dt") * F.log(F.col("ar").cast("double") / sc)
        ) * F.lit(COX_LL_SCALE)
        agg = sx.select(
            F.round(u_t, 0).cast("long").alias("u_i"),
            F.round(i_t, 0).cast("long").alias("i_i"),
            F.round(ll_t, 0).cast("long").alias("l_i"),
        ).agg(
            F.sum("u_i").alias("u"),
            F.sum("i_i").alias("i"),
            F.sum("l_i").alias("l"),
        ).first()
        score = agg["u"] / COX_TERM_SCALE
        info = agg["i"] / COX_TERM_SCALE
        loglik = agg["l"] / COX_LL_SCALE
        beta = round_half_up(beta + score / info, 6)
        rows.append(
            (
                rnd,
                beta + 0.0,
                round_half_up(_math.exp(beta), 4),
                score,
                info,
                loglik,
            )
        )
    return spark.createDataFrame(
        rows,
        "round INT, beta DOUBLE, hazard_ratio DOUBLE, score_u DOUBLE, "
        "fisher_info DOUBLE, log_lik DOUBLE",
    ).orderBy("round")


def _duck_cox_sql() -> str:
    """Unrolled Newton loop: per round the weighted contingency, the
    per-tenure masses, the descending risk-set windows, and the 1-row
    beta update — operation-for-operation the Spark chain."""

    def dlit(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    ts, lls = dlit(COX_TERM_SCALE), dlit(COX_LL_SCALE)
    parts = [
        """cells AS (
  SELECT CAST("Tenure" AS BIGINT) AS tn,
    CAST("Support Calls" AS BIGINT) AS x,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST("Churn" AS BIGINT)) AS BIGINT) AS d
  FROM churn_customers GROUP BY 1, 2
)""",
        f"b0 AS (SELECT {dlit(0.0)} AS beta)",
    ]
    for r in range(1, COX_ROUNDS + 1):
        p = r - 1
        parts.append(f"""pt{r} AS MATERIALIZED (
  SELECT tn,
    CAST(sum(CAST(round(n * exp(b.beta * x) * {ts}, 0) AS BIGINT))
      AS BIGINT) AS at,
    CAST(sum(CAST(round(n * x * exp(b.beta * x) * {ts}, 0) AS BIGINT))
      AS BIGINT) AS bt,
    CAST(sum(CAST(round(n * x * x * exp(b.beta * x) * {ts}, 0) AS BIGINT))
      AS BIGINT) AS gt,
    CAST(sum(d) AS BIGINT) AS dt,
    CAST(sum(d * x) AS BIGINT) AS st
  FROM cells CROSS JOIN b{p} b GROUP BY tn
)""")
        parts.append(f"""ag{r} AS MATERIALIZED (
  SELECT
    CAST(sum(CAST(round((st - dt * (CAST(br AS DOUBLE) / CAST(ar AS DOUBLE)))
      * {ts}, 0) AS BIGINT)) AS BIGINT) AS u,
    CAST(sum(CAST(round(dt * (CAST(gr AS DOUBLE) / CAST(ar AS DOUBLE)
      - (CAST(br AS DOUBLE) / CAST(ar AS DOUBLE))
        * (CAST(br AS DOUBLE) / CAST(ar AS DOUBLE))) * {ts}, 0) AS BIGINT))
      AS BIGINT) AS i,
    CAST(sum(CAST(round((st * b.beta
      - dt * ln(CAST(ar AS DOUBLE) / {ts})) * {lls}, 0) AS BIGINT))
      AS BIGINT) AS l
  FROM (
    SELECT tn, dt, st,
      CAST(sum(at) OVER (ORDER BY tn DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ar,
      CAST(sum(bt) OVER (ORDER BY tn DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS br,
      CAST(sum(gt) OVER (ORDER BY tn DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS gr
    FROM pt{r}
  ) CROSS JOIN b{p} b
  WHERE dt > 0
)""")
        parts.append(
            f"b{r} AS (SELECT round(b.beta + (CAST(a.u AS DOUBLE) / {ts})"
            f" / (CAST(a.i AS DOUBLE) / {ts}), 6) AS beta"
            f" FROM b{p} b CROSS JOIN ag{r} a)"
        )
    traj = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, b.beta + 0.0 AS beta, "
        f"round(exp(b.beta), 4) AS hazard_ratio, "
        f"CAST(a.u AS DOUBLE) / {ts} AS score_u, "
        f"CAST(a.i AS DOUBLE) / {ts} AS fisher_info, "
        f"CAST(a.l AS DOUBLE) / {lls} AS log_lik "
        f"FROM b{r} b CROSS JOIN ag{r} a"
        for r in range(1, COX_ROUNDS + 1)
    )
    return (
        churn_cte()
        + ",\n"
        + ",\n".join(parts)
        + f"\nSELECT * FROM (\n{traj}\n) ORDER BY round\n"
    )


ORACLE["cox_churn_hazard"] = _duck_cox_sql()
QUERIES["cox_churn_hazard"] = cox_churn_hazard


# ---------------------------------------------------------------------------
# user-level (cluster) permutation test for the A/B value difference
# ---------------------------------------------------------------------------

PERM_B = 200  # permutation replicas (md5-derived, reproducible)


def permutation_test_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-replay permutation test for the mean-event-value difference
    between the two deterministic user halves (``user_id % 2`` — the
    ab_conversion_ztest split): re-randomize the assignment AT USER
    LEVEL ``PERM_B`` times with the md5 coin and count permutations at
    least as extreme as the observed difference. The distribution-free
    sibling of the z-test/Mann-Whitney shelf — and the one that
    respects within-user correlation, because the permutation unit is
    the user (cluster), never the event.

    Scale shape: ONE data pass collapses events to per-user sufficient
    statistics (Sum value, count — partial-aggregating); the B
    replicas explode the USER-level relation only (users x B rows, the
    poisson_bootstrap_ci explode pattern), and each replica reduces to
    4 integers. Nothing data-sized is ever replayed B times.

    Cross-engine: per-user sums are 1e4-scaled BIGINTs; every replica's
    group sums are exact integer reductions, the t statistics are one
    double chain per replica (identical on both engines), and the
    extreme-count compares |t_b| >= |t_obs| on those identical doubles.
    p-value = (1 + n_extreme)/(B + 1) (the add-one permutation rule),
    an int-derived chain rounded 4dp; the t_obs output rounds 4dp with
    +0.0 (sign can straddle zero).
    """
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 10000, 0).cast("long")).alias("s_i4"),
        F.count(F.lit(1)).alias("c"),
    ).persist()  # observed + B replica branches share one user collapse
    # (construction-lazy cache, round 10 — was an eager checkpoint)

    def group_sums(df, gcol):
        return df.groupBy(gcol).agg(
            F.sum(F.when(F.col("g") == 0, F.col("s_i4")).otherwise(F.lit(0))).alias("s0"),
            F.sum(F.when(F.col("g") == 0, F.col("c")).otherwise(F.lit(0))).alias("c0"),
            F.sum(F.when(F.col("g") == 1, F.col("s_i4")).otherwise(F.lit(0))).alias("s1"),
            F.sum(F.when(F.col("g") == 1, F.col("c")).otherwise(F.lit(0))).alias("c1"),
        )

    tstat = (
        F.col("s0").cast("double") / 10000.0 / F.col("c0").cast("double")
        - F.col("s1").cast("double") / 10000.0 / F.col("c1").cast("double")
    )
    obs = group_sums(
        users.select("s_i4", "c", (F.col("user_id") % 2).alias("g")),
        F.lit(0).alias("k"),
    ).select(tstat.alias("t_obs"))

    reps = users.select(
        "user_id",
        "s_i4",
        "c",
        F.explode(F.sequence(F.lit(1), F.lit(PERM_B))).alias("b"),
    ).select(
        "s_i4",
        "c",
        "b",
        (
            F.expr(
                md5_int_sql("concat('perm_', user_id, '_', b)")
            )
            % 2
        ).alias("g"),
    )
    per_b = group_sums(reps, F.col("b")).select("b", tstat.alias("t_b"))
    return (
        per_b.crossJoin(F.broadcast(obs))
        .agg(
            F.count(F.lit(1)).alias("b_perms"),
            F.sum(
                (F.abs(F.col("t_b")) >= F.abs(F.col("t_obs")))
                .cast("long")
            ).alias("n_extreme"),
            F.max("t_obs").alias("t_obs_raw"),
        )
        .crossJoin(F.broadcast(users.agg(F.count(F.lit(1)).alias("n_users"))))
        .select(
            "n_users",
            "b_perms",
            (F.round(F.col("t_obs_raw"), 4) + F.lit(0.0)).alias("t_obs"),
            "n_extreme",
            F.round(
                (F.lit(1) + F.col("n_extreme")).cast("double")
                / (F.lit(PERM_B) + F.lit(1)).cast("double"),
                4,
            ).alias("p_value"),
        )
    )


ORACLE["permutation_test_value"] = f"""
WITH users AS (
  SELECT user_id,
    CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT) AS s_i4,
    CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
obs AS (
  SELECT
    CAST(sum(CASE WHEN user_id % 2 = 0 THEN s_i4 ELSE 0 END) AS BIGINT) AS s0,
    CAST(sum(CASE WHEN user_id % 2 = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
    CAST(sum(CASE WHEN user_id % 2 = 1 THEN s_i4 ELSE 0 END) AS BIGINT) AS s1,
    CAST(sum(CASE WHEN user_id % 2 = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
  FROM users
),
tobs AS (
  SELECT CAST(s0 AS DOUBLE) / 10000.0 / CAST(c0 AS DOUBLE)
       - CAST(s1 AS DOUBLE) / 10000.0 / CAST(c1 AS DOUBLE) AS t_obs
  FROM obs
),
reps AS (
  SELECT u.s_i4, u.c, b.b,
    {duck_md5_int("concat('perm_', user_id, '_', b)")} % 2 AS g
  FROM users u CROSS JOIN (
    SELECT unnest(generate_series(1, {PERM_B})) AS b
  ) b
),
per_b AS (
  SELECT b,
    CAST(sum(CASE WHEN g = 0 THEN s_i4 ELSE 0 END) AS BIGINT) AS s0,
    CAST(sum(CASE WHEN g = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
    CAST(sum(CASE WHEN g = 1 THEN s_i4 ELSE 0 END) AS BIGINT) AS s1,
    CAST(sum(CASE WHEN g = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
  FROM reps GROUP BY 1
),
tb AS (
  SELECT b, CAST(s0 AS DOUBLE) / 10000.0 / CAST(c0 AS DOUBLE)
          - CAST(s1 AS DOUBLE) / 10000.0 / CAST(c1 AS DOUBLE) AS t_b
  FROM per_b
),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS b_perms,
    CAST(sum(CASE WHEN abs(t.t_b) >= abs(o.t_obs) THEN 1 ELSE 0 END)
      AS BIGINT) AS n_extreme,
    max(o.t_obs) AS t_obs_raw
  FROM tb t CROSS JOIN tobs o
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM users) AS n_users,
  b_perms,
  round(t_obs_raw, 4) + 0.0 AS t_obs,
  n_extreme,
  round(CAST(1 + n_extreme AS DOUBLE)
    / CAST({PERM_B} + 1 AS DOUBLE), 4) AS p_value
FROM ex
"""
QUERIES["permutation_test_value"] = permutation_test_value


# ---------------------------------------------------------------------------
# PACF of the daily series (Durbin-Levinson on the 8dp ACF)
# ---------------------------------------------------------------------------

PACF_LAGS = 5


def pacf_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily value-sum series at lags
    1..5 via the Durbin-Levinson recursion — the AR-order diagnostic
    that pairs with ``acf_daily_value`` (ACF says "how much memory",
    PACF says "how many AR terms"): an AR(p) series cuts the PACF off
    after lag p while its ACF decays for many more lags.

    Scale shape: identical to the ACF query — ONE partial-aggregating
    pass collapses events to the calendar-bounded daily series, lag
    windows run over |days| rows, and ONE 6-scalar aggregate reaches
    the driver. The D-L recursion itself is O(L^2) scalar algebra on
    those 6 numbers (driver-side here, a 1-row relation at any scale).

    Cross-engine: autocorrelations round to 8dp on both engines before
    the recursion (absorbing sum-order low bits); every phi_{k,j}
    re-rounds to 8dp after each level; Python replays engine rounding
    via ``round_half_up`` and accumulates the inner products in the
    SAME left-to-right order as the oracle's unrolled '+' chains, so
    both engines walk identical doubles through all L levels. Emitted
    values are those exact 8dp doubles with the +0.0 negative-zero
    normalization.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 4).alias("x")
    )
    mu = daily.agg(F.round(F.avg("x"), 6).alias("mu"))
    d = daily.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("x") - F.col("mu")).alias("c")
    )
    w = Window.orderBy("day")
    lagged = d.select(
        "c",
        *[F.lag("c", k).over(w).alias(f"c{k}") for k in range(1, PACF_LAGS + 1)],
    )
    agg = lagged.agg(
        F.sum(F.col("c") * F.col("c")).alias("denom"),
        *[
            F.sum(F.col("c") * F.col(f"c{k}")).alias(f"num{k}")
            for k in range(1, PACF_LAGS + 1)
        ],
    ).first()
    denom = agg["denom"]
    r = {0: 1.0}
    for k in range(1, PACF_LAGS + 1):
        r[k] = (
            round_half_up(agg[f"num{k}"] / denom, 8)
            if denom and denom > 0 and agg[f"num{k}"] is not None
            else None
        )
    # Durbin-Levinson: f maps j -> phi_{k,j} for the current level k
    pacf = {1: r[1]}
    f = {1: r[1]}
    for k in range(2, PACF_LAGS + 1):
        if any(f.get(j) is None for j in range(1, k)) or r[k] is None:
            pacf[k] = None
            continue
        num_acc = 0.0
        den_acc = 0.0
        for j in range(1, k):
            num_acc = num_acc + f[j] * r[k - j]
            den_acc = den_acc + f[j] * r[j]
        den = 1.0 - den_acc
        if den == 0.0:
            pacf[k] = None
            f = {j: None for j in range(1, k + 1)}
            continue
        phi = round_half_up((r[k] - num_acc) / den, 8)
        f = {
            j: round_half_up(f[j] - phi * f[k - j], 8) for j in range(1, k)
        }
        f[k] = phi
        pacf[k] = phi
    rows = [
        (
            k,
            (r[k] + 0.0) if r[k] is not None else None,
            (pacf[k] + 0.0) if pacf[k] is not None else None,
        )
        for k in range(1, PACF_LAGS + 1)
    ]
    return spark.createDataFrame(
        rows, "lag INT, acf DOUBLE, pacf DOUBLE"
    ).orderBy("lag")


def _duck_pacf_sql() -> str:
    """Unrolled Durbin-Levinson: level-k CTEs carry phi_{k,j} columns;
    the '+' chains accumulate in the SAME j order as the Python loop."""
    L = PACF_LAGS
    lags = ", ".join(
        f"lag(c, {k}) OVER (ORDER BY day) AS c{k}" for k in range(1, L + 1)
    )
    nums = ", ".join(f"sum(c * c{k}) AS num{k}" for k in range(1, L + 1))
    rs = ", ".join(
        f"CASE WHEN denom > 0 THEN round(num{k} / denom, 8) END AS r{k}"
        for k in range(1, L + 1)
    )
    parts = [
        f"""daily AS (
  SELECT CAST(ts AS DATE) AS day, round(sum(value), 4) AS x
  FROM events GROUP BY CAST(ts AS DATE)
),
mu AS (SELECT round(avg(x), 6) AS mu FROM daily),
d AS (SELECT day, x - m.mu AS c FROM daily CROSS JOIN mu m),
lagged AS (SELECT c, {lags} FROM d),
agg AS (SELECT sum(c * c) AS denom, {nums} FROM lagged),
r AS (SELECT {rs} FROM agg)""",
        "l1 AS (SELECT r1 AS f1 FROM r)",
    ]
    for k in range(2, L + 1):
        p = k - 1
        num_chain = " + ".join(f"l.f{j} * r.r{k - j}" for j in range(1, k))
        den_chain = " + ".join(f"l.f{j} * r.r{j}" for j in range(1, k))
        phi = (
            f"round((r.r{k} - ({num_chain})) / (1e0 - ({den_chain})), 8)"
        )
        cols = [f"round(l.f{j} - ({phi}) * l.f{k - j}, 8) AS f{j}"
                for j in range(1, k)]
        cols.append(f"{phi} AS f{k}")
        parts.append(
            f"l{k} AS (SELECT {', '.join(cols)} FROM l{p} l CROSS JOIN r)"
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT {k} AS lag, r.r{k} + 0.0 AS acf, l{k}.f{k} + 0.0 AS pacf "
        f"FROM r CROSS JOIN l{k}"
        for k in range(1, L + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\nSELECT * FROM (\n{sel}\n) ORDER BY lag\n"


ORACLE["pacf_daily_value"] = _duck_pacf_sql()
QUERIES["pacf_daily_value"] = pacf_daily_value


# ---------------------------------------------------------------------------
# Kruskal-Wallis H — k-group rank test over event values by event type
# ---------------------------------------------------------------------------

KW_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# chi-square(df=4) upper critical value at alpha = 0.01
KW_CRIT_P01_DF4 = 13.2767


def kruskal_wallis_value_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: do the five event types draw ``value``
    from the same distribution? The k-group extension of the
    Mann-Whitney machinery above, with the identical distributed shape:
    collapse to DISTINCT values (per-type counts as k conditional sums
    in ONE hash agg), assign midranks with ONE ordered prefix-sum window
    over |distinct values| rows, then fold rank-sums per type plus the
    tie term into a single row. H and its tie correction are O(1)
    driver-free algebra.

    Cross-engine exactness: midranks are half-integers and per-type
    counts integers, so every rank-sum is an exactly representable
    double (order-free); the tie term Σ(c³−c) folds as an exact
    BIGINT (ADVICE r7 — see the inline note; DOUBLE enters only the
    final H-correction algebra per the CLAUDE.md Gini rule). Output
    rounds 4dp."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*KW_EVENT_TYPES) & F.col("value").isNotNull()
    )
    per_val = ev.groupBy("value").agg(
        F.count(F.lit(1)).alias("cnt"),
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(
                f"n_{t}"
            )
            for t in KW_EVENT_TYPES
        ],
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_val.select(
        "cnt",
        *[f"n_{t}" for t in KW_EVENT_TYPES],
        (
            F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("double")
            + (F.col("cnt").cast("double") + 1.0) / 2.0
        ).alias("midrank"),
    )
    suff = ranked.agg(
        F.sum("cnt").alias("n"),
        # tie term Σ(c³−c) as an exact BIGINT fold (order-free) — a
        # DOUBLE hash-agg loses exactness (partition-order-dependent)
        # past 2^53; the BIGINT fold is exact to 2^63 and throws LOUDLY
        # (ANSI) beyond, rather than silently diverging. A single c³
        # overflows only at tie-group size c > 2.1e6 identical doubles.
        # DOUBLE enters only the final H-correction algebra below.
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_term"),
        *[F.sum(f"n_{t}").alias(f"nt_{t}") for t in KW_EVENT_TYPES],
        *[
            F.sum(F.col(f"n_{t}").cast("double") * F.col("midrank")).alias(
                f"r_{t}"
            )
            for t in KW_EVENT_TYPES
        ],
    )
    nn = F.col("n").cast("double")
    s = None
    for t in KW_EVENT_TYPES:
        term = F.when(
            F.col(f"nt_{t}") > 0,
            F.col(f"r_{t}") * F.col(f"r_{t}") / F.col(f"nt_{t}").cast("double"),
        ).otherwise(F.lit(0.0))
        s = term if s is None else s + term
    h = 12.0 / (nn * (nn + 1.0)) * s - 3.0 * (nn + 1.0)
    corr = 1.0 - F.col("tie_term").cast("double") / (nn * nn * nn - nn)
    h_c = F.when(corr > 0, h / corr)
    return suff.select(
        *[F.col(f"nt_{t}").alias(f"n_{t}") for t in KW_EVENT_TYPES],
        (F.round(h, 4) + F.lit(0.0)).alias("h_stat"),
        (F.round(h_c, 4) + F.lit(0.0)).alias("h_corrected"),
        F.lit(len(KW_EVENT_TYPES) - 1).cast("int").alias("df"),
        (F.coalesce(h_c, h) > KW_CRIT_P01_DF4).cast("int").alias(
            "reject_p01"
        ),
    )


def _kw_oracle() -> str:
    types = KW_EVENT_TYPES
    in_list = ", ".join(f"'{t}'" for t in types)
    cond_counts = ",\n    ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f' AS "n_{t}"' for t in types
    )
    suff_nt = ",\n    ".join(
        f'CAST(sum("n_{t}") AS BIGINT) AS "nt_{t}"' for t in types
    )
    suff_r = ",\n    ".join(
        f'sum(CAST("n_{t}" AS DOUBLE) * midrank) AS "r_{t}"' for t in types
    )
    s_terms = " + ".join(
        f'(CASE WHEN "nt_{t}" > 0 THEN "r_{t}" * "r_{t}"'
        f' / CAST("nt_{t}" AS DOUBLE) ELSE 0.0 END)' for t in types
    )
    out_n = ", ".join(f'"nt_{t}" AS "n_{t}"' for t in types)
    k = len(types)
    return f"""
WITH per_val AS (
  SELECT value, CAST(count(*) AS BIGINT) AS cnt,
    {cond_counts}
  FROM events
  WHERE event_type IN ({in_list}) AND value IS NOT NULL
  GROUP BY value
),
ranked AS (
  SELECT *,
    CAST(coalesce(sum(cnt) OVER (ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
      + (CAST(cnt AS DOUBLE) + 1.0) / 2.0 AS midrank
  FROM per_val
),
suff AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n,
    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term,
    {suff_nt},
    {suff_r}
  FROM ranked
),
alg AS (
  SELECT *, CAST(n AS DOUBLE) AS dn,
    12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
      * ({s_terms}) - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
    1.0 - CAST(tie_term AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS corr
  FROM suff
)
SELECT {out_n},
  round(h, 4) + 0.0 AS h_stat,
  round(CASE WHEN corr > 0 THEN h / corr END, 4) + 0.0 AS h_corrected,
  CAST({k - 1} AS INT) AS df,
  CAST(coalesce(CASE WHEN corr > 0 THEN h / corr END, h)
    > {KW_CRIT_P01_DF4} AS INT) AS reject_p01
FROM alg
"""


ORACLE["kruskal_wallis_value_test"] = _kw_oracle()
QUERIES["kruskal_wallis_value_test"] = kruskal_wallis_value_test


# ---------------------------------------------------------------------------
# Welch unequal-variance t-test — churned vs retained spend
# ---------------------------------------------------------------------------


def welch_ttest_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test (unequal variances) on Total Spend, churned vs
    retained, with the Welch-Satterthwaite effective df — the test a
    pipeline runs when group variances differ (the pooled t's
    assumption fails on revenue data).

    Cross-engine exactness: spend carries 2 decimal digits, so the
    sufficient statistics are folded over EXACT integer cents —
    sum(cents) and sum(cents²) are order-free exact doubles (≤ ~1.5e15
    at sf0.01, inside 2^53; at full 100 TB scale the same fold widens
    to per-partition partials that stay exact far past any realistic
    group size). Means/variances/t/df are then identical double
    expressions over identical inputs on both engines — bit-equal
    before the final 4dp round."""
    df = churn_customers(spark, sf_dir)
    # fold the sufficient statistics as exact BIGINTs — double sums stop
    # being exact (and become partition-order-dependent) past 2^53;
    # Σcents² is 4.62e15 at sf0.1 (measured), crossing 2^53 ≈ 9.01e15
    # around sf0.2
    cents = F.round(F.col("`Total Spend`") * 100.0, 0).cast("long")
    per = df.groupBy(F.col("Churn").alias("churn")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    # one row per input, as the oracle's both_g: a global aggregate keeps
    # it (NULL statistics) when a group, or the whole input, is empty
    def of(churn, col):
        return F.max(F.when(F.col("churn") == churn, F.col(col)))

    both = per.agg(
        of(1, "n").alias("n1"),
        of(1, "s1").alias("a1"),
        of(1, "s2").alias("a2"),
        of(0, "n").alias("n0"),
        of(0, "s1").alias("b1"),
        of(0, "s2").alias("b2"),
    )
    d1 = F.col("n1").cast("double")
    d0 = F.col("n0").cast("double")
    m1 = F.col("a1") / d1 / 100.0
    m0 = F.col("b1") / d0 / 100.0
    # sample variance in spend units: (s2 - s1^2/n) / (n-1) / 100^2
    # squares of the BIGINT sums in DOUBLE (ANSI long*long would throw
    # past 2^63 — the Gini rule); identical widening in the oracle
    v1 = (
        F.col("a2") - F.col("a1").cast("double") * F.col("a1") / d1
    ) / (d1 - 1.0) / 10000.0
    v0 = (
        F.col("b2") - F.col("b1").cast("double") * F.col("b1") / d0
    ) / (d0 - 1.0) / 10000.0
    se2 = v1 / d1 + v0 / d0
    t = (m1 - m0) / F.sqrt(se2)
    dfw = (se2 * se2) / (
        (v1 / d1) * (v1 / d1) / (d1 - 1.0)
        + (v0 / d0) * (v0 / d0) / (d0 - 1.0)
    )
    ok = (F.col("n1") > 1) & (F.col("n0") > 1)
    return both.select(
        F.col("n1").alias("n_churned"),
        F.col("n0").alias("n_retained"),
        F.round(m1, 4).alias("mean_churned"),
        F.round(m0, 4).alias("mean_retained"),
        (F.when(ok & (se2 > 0), F.round(t, 4)) + F.lit(0.0)).alias("t_stat"),
        (F.when(ok & (se2 > 0), F.round(dfw, 4)) + F.lit(0.0)).alias(
            "welch_df"
        ),
    )


ORACLE["welch_ttest_spend"] = (
    churn_cte()
    + """
, per AS (
  SELECT "Churn" AS churn, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(round("Total Spend" * 100.0, 0) AS BIGINT)) AS BIGINT)
      AS s1,
    CAST(sum(CAST(round("Total Spend" * 100.0, 0) AS BIGINT)
      * CAST(round("Total Spend" * 100.0, 0) AS BIGINT)) AS BIGINT) AS s2
  FROM churn_customers
  GROUP BY 1
),
both_g AS (
  SELECT
    CAST(max(CASE WHEN churn = 1 THEN n END) AS BIGINT) AS n1,
    max(CASE WHEN churn = 1 THEN s1 END) AS a1,
    max(CASE WHEN churn = 1 THEN s2 END) AS a2,
    CAST(max(CASE WHEN churn = 0 THEN n END) AS BIGINT) AS n0,
    max(CASE WHEN churn = 0 THEN s1 END) AS b1,
    max(CASE WHEN churn = 0 THEN s2 END) AS b2
  FROM per
),
alg AS (
  SELECT *,
    CAST(n1 AS DOUBLE) AS d1, CAST(n0 AS DOUBLE) AS d0,
    a1 / CAST(n1 AS DOUBLE) / 100.0 AS m1,
    b1 / CAST(n0 AS DOUBLE) / 100.0 AS m0,
    (a2 - CAST(a1 AS DOUBLE) * a1 / CAST(n1 AS DOUBLE))
      / (CAST(n1 AS DOUBLE) - 1.0) / 10000.0 AS v1,
    (b2 - CAST(b1 AS DOUBLE) * b1 / CAST(n0 AS DOUBLE))
      / (CAST(n0 AS DOUBLE) - 1.0) / 10000.0 AS v0
  FROM both_g
),
alg2 AS (
  SELECT *, v1 / d1 + v0 / d0 AS se2 FROM alg
)
SELECT n1 AS n_churned, n0 AS n_retained,
  round(m1, 4) AS mean_churned,
  round(m0, 4) AS mean_retained,
  round(CASE WHEN n1 > 1 AND n0 > 1 AND se2 > 0
    THEN (m1 - m0) / sqrt(se2) END, 4) + 0.0 AS t_stat,
  round(CASE WHEN n1 > 1 AND n0 > 1 AND se2 > 0
    THEN se2 * se2 / ((v1 / d1) * (v1 / d1) / (d1 - 1.0)
      + (v0 / d0) * (v0 / d0) / (d0 - 1.0)) END, 4) + 0.0 AS welch_df
FROM alg2
"""
)
QUERIES["welch_ttest_spend"] = welch_ttest_spend


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (+ Breslow survival) over tenure
# ---------------------------------------------------------------------------


def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen estimator of the cumulative churn hazard over
    ``Tenure`` (H(t) = Σ d_i/n_i over event times ≤ t) with the Breslow
    survival S(t) = exp(−H(t)) — the hazard-side companion of
    ``kaplan_meier_churn`` (NA is the estimator of choice when the
    cumulative hazard itself is the quantity of interest, and its
    increments feed the log-rank machinery).

    Distributed shape: identical to KM — ONE hash agg to the ≤73-row
    distinct-tenure table, risk sets from a prefix-sum window plus the
    1-row total broadcast, then an ordered cumulative sum over the
    vocabulary-bounded relation. Cross-engine: d/n divisions of exact
    integers are deterministic doubles; the ordered running sum folds
    identical values in identical order on both engines; outputs round
    4dp."""
    cc = churn_customers(spark, sf_dir)
    per_t = cc.groupBy(F.col("Tenure").alias("t")).agg(
        F.sum("Churn").alias("d"),
        F.sum(F.lit(1) - F.col("Churn")).alias("c"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = (
        per_t.select(
            "t",
            "d",
            "c",
            F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            ).alias("before"),
        )
        .crossJoin(F.broadcast(cc.agg(F.count(F.lit(1)).alias("n_total"))))
        .select(
            "t",
            "d",
            "c",
            (F.col("n_total") - F.col("before")).alias("n_at_risk"),
        )
    )
    inc = F.col("d") / F.col("n_at_risk").cast("double")
    cum = F.sum(inc).over(w_cum)
    return risk.select(
        "t",
        "d",
        "n_at_risk",
        F.round(inc, 4).alias("hazard_increment"),
        F.round(cum, 4).alias("cum_hazard"),
        F.round(F.exp(-cum), 4).alias("breslow_survival"),
    ).orderBy("t")


ORACLE["nelson_aalen_hazard"] = (
    churn_cte()
    + """
, per_t AS (
  SELECT "Tenure" AS t,
    CAST(sum("Churn") AS BIGINT) AS d,
    CAST(sum(1 - "Churn") AS BIGINT) AS c
  FROM churn_customers GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM churn_customers),
risk AS (
  SELECT t, d, c,
    n_total - CAST(coalesce(sum(d + c) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS n_at_risk
  FROM per_t CROSS JOIN tot
),
alg AS (
  SELECT t, d, n_at_risk,
    CAST(d AS DOUBLE) / n_at_risk AS inc,
    sum(CAST(d AS DOUBLE) / n_at_risk) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM risk
)
SELECT t, d, n_at_risk,
  round(inc, 4) AS hazard_increment,
  round(cum, 4) AS cum_hazard,
  round(exp(-cum), 4) AS breslow_survival
FROM alg
ORDER BY t
"""
)
QUERIES["nelson_aalen_hazard"] = nelson_aalen_hazard


# ---------------------------------------------------------------------------
# Inverse-propensity-weighted ATE with tabular (cell-count) propensities
# ---------------------------------------------------------------------------

IPW_TREATMENT = "Monthly"  # Contract Length value taken as "treatment"


def ipw_churn_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average treatment effect of a Monthly contract on churn by
    inverse-propensity weighting, with TABULAR propensities — e(x)
    estimated as the exact treated fraction within each
    (Subscription Type, Gender) covariate cell. Emits the
    Horvitz-Thompson and Hajek (self-normalized) ATEs next to the
    naive group difference — the standard confounding-adjustment
    readout when covariates are discrete (Rosenbaum-Rubin with a
    saturated propensity model).

    Distributed shape: ONE conditional aggregate to the ≤6-row cell
    table; cells with no treated or no control drop out (counted).
    Cross-engine: all cell statistics are exact integers, per-cell
    terms are deterministic divisions, and cross-cell totals fold as
    ORDERED plain-double folds over the sorted cell collect (the
    cmh_stratified_test discipline) — never an order-free double agg."""
    cc = churn_customers(spark, sf_dir)
    t = (F.col("`Contract Length`") == IPW_TREATMENT).cast("long")
    cells = cc.groupBy(
        F.col("`Subscription Type`").alias("sub"),
        F.col("Gender").alias("g"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(t).alias("nt"),
        F.sum(t * F.col("Churn")).alias("yt"),
        F.sum((1 - t) * F.col("Churn")).alias("yc"),
    )
    ok = (F.col("nt") > 0) & (F.col("nt") < F.col("n"))
    terms = cells.select(
        "n",
        "nt",
        ok.cast("int").alias("ok"),
        # HT terms: y_t / e and y_c / (1-e) with e = nt/n (exact ints)
        F.when(
            ok,
            F.col("yt").cast("double")
            * F.col("n")
            / F.col("nt").cast("double"),
        ).otherwise(F.lit(0.0)).alias("ht_t"),
        F.when(
            ok,
            F.col("yc").cast("double")
            * F.col("n")
            / (F.col("n") - F.col("nt")).cast("double"),
        ).otherwise(F.lit(0.0)).alias("ht_c"),
        # Hajek weights: Σ t/e = Σ n per used cell (exact), same for ctrl
        F.when(ok, F.col("n").cast("double")).otherwise(F.lit(0.0)).alias(
            "wsum"
        ),
        F.when(ok, F.col("yt")).otherwise(F.lit(0)).alias("yt_ok"),
        F.when(ok, F.col("yc")).otherwise(F.lit(0)).alias("yc_ok"),
        F.when(ok, F.col("n")).otherwise(F.lit(0)).alias("n_ok"),
        F.when(ok, F.col("nt")).otherwise(F.lit(0)).alias("nt_ok"),
        "sub",
        "g",
    )
    folded = terms.agg(
        F.sort_array(
            F.collect_list(F.struct("sub", "g", "ht_t", "ht_c", "wsum"))
        ).alias("ks"),
        F.sum("n").alias("n_all"),
        F.sum("ok").alias("n_cells_used"),
        F.sum("n_ok").alias("n_used"),
        F.sum("nt_ok").alias("nt_used"),
        F.sum("yt_ok").alias("yt_used"),
        F.sum("yc_ok").alias("yc_used"),
    )

    def fold(field: str) -> F.Column:
        return F.expr(
            f"aggregate(transform(ks, x -> x.{field}), "
            "CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
        )

    ht_t, ht_c, wsum = fold("ht_t"), fold("ht_c"), fold("wsum")
    naive = F.col("yt_used").cast("double") / F.col("nt_used") - F.col(
        "yc_used"
    ).cast("double") / (F.col("n_used") - F.col("nt_used"))
    return folded.select(
        F.col("n_all").alias("n"),
        F.col("n_cells_used").cast("int").alias("n_cells_used"),
        (
            F.round((ht_t - ht_c) / F.col("n_used").cast("double"), 4)
            + F.lit(0.0)
        ).alias("ate_ht"),
        (
            F.round((ht_t - ht_c) / F.nullif(wsum, F.lit(0.0)), 4)
            + F.lit(0.0)
        ).alias("ate_hajek"),
        (F.when(
            (F.col("nt_used") > 0)
            & (F.col("n_used") > F.col("nt_used")),
            F.round(naive, 4),
        ) + F.lit(0.0)).alias("naive_diff"),
    )


ORACLE["ipw_churn_ate"] = (
    churn_cte()
    + f"""
, cells AS (
  SELECT "Subscription Type" AS sub, "Gender" AS g,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN "Contract Length" = '{IPW_TREATMENT}'
      THEN 1 ELSE 0 END) AS BIGINT) AS nt,
    CAST(sum(CASE WHEN "Contract Length" = '{IPW_TREATMENT}'
      THEN "Churn" ELSE 0 END) AS BIGINT) AS yt,
    CAST(sum(CASE WHEN "Contract Length" <> '{IPW_TREATMENT}'
      THEN "Churn" ELSE 0 END) AS BIGINT) AS yc
  FROM churn_customers GROUP BY 1, 2
),
terms AS (
  SELECT *,
    CAST((nt > 0 AND nt < n) AS INT) AS ok,
    CASE WHEN nt > 0 AND nt < n
      THEN CAST(yt AS DOUBLE) * n / CAST(nt AS DOUBLE) ELSE 0.0 END AS ht_t,
    CASE WHEN nt > 0 AND nt < n
      THEN CAST(yc AS DOUBLE) * n / CAST(n - nt AS DOUBLE)
      ELSE 0.0 END AS ht_c,
    CASE WHEN nt > 0 AND nt < n
      THEN CAST(n AS DOUBLE) ELSE 0.0 END AS wsum
  FROM cells
),
folded AS (
  SELECT
    list_sort(list({{'sub': sub, 'g': g, 'ht_t': ht_t, 'ht_c': ht_c,
      'wsum': wsum}})) AS ks,
    CAST(sum(n) AS BIGINT) AS n_all,
    CAST(sum(ok) AS BIGINT) AS n_cells_used,
    CAST(sum(CASE WHEN ok = 1 THEN n ELSE 0 END) AS BIGINT) AS n_used,
    CAST(sum(CASE WHEN ok = 1 THEN nt ELSE 0 END) AS BIGINT) AS nt_used,
    CAST(sum(CASE WHEN ok = 1 THEN yt ELSE 0 END) AS BIGINT) AS yt_used,
    CAST(sum(CASE WHEN ok = 1 THEN yc ELSE 0 END) AS BIGINT) AS yc_used
  FROM terms
),
alg AS (
  SELECT *,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(ks, x -> x.ht_t)), (a, v) -> a + v) AS ht_t,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(ks, x -> x.ht_c)), (a, v) -> a + v) AS ht_c,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(ks, x -> x.wsum)), (a, v) -> a + v) AS wsum
  FROM folded
)
SELECT n_all AS n,
  CAST(n_cells_used AS INT) AS n_cells_used,
  round((ht_t - ht_c) / CAST(n_used AS DOUBLE), 4) + 0.0 AS ate_ht,
  round((ht_t - ht_c) / wsum, 4) + 0.0 AS ate_hajek,
  round(CASE WHEN nt_used > 0 AND n_used > nt_used THEN
    CAST(yt_used AS DOUBLE) / nt_used
      - CAST(yc_used AS DOUBLE) / (n_used - nt_used) END, 4) + 0.0
    AS naive_diff
FROM alg
"""
)
QUERIES["ipw_churn_ate"] = ipw_churn_ate


# ---------------------------------------------------------------------------
# Spearman rank correlations over integer-domain churn feature pairs
# ---------------------------------------------------------------------------

SPEARMAN_PAIRS = [
    ("Age", "Tenure"),
    ("Support Calls", "Payment Delay"),
    ("Usage Frequency", "Last Interaction"),
]


def spearman_feature_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (tie-aware: Pearson of midranks) for
    three churn feature pairs — the monotone-association complement of
    the Pearson matrix in ``churn_correlations`` (rank correlation is
    what a pipeline checks when relationships are nonlinear or the
    scales are ordinal).

    Distributed shape: every variable has a TINY integer domain
    (≤ 83 distinct values), so midranks come from a domain-bounded
    per-value prefix sum broadcast back onto the rows — per pair, two
    broadcast joins and ONE sufficient-statistics aggregate.
    Cross-engine exactness: midranks are half-integers → doubled to
    exact BIGINTs; every Σu, Σv, Σuv, Σu², Σv² is an exact integer
    fold and the correlation is identical double algebra over them,
    emitted raw."""
    # r13 optimization: cc feeds 3 pair-aggregates plus 2 midrank
    # subtrees each — unpersisted, the before-plan scanned customer 9
    # times. One lazy persist of the projected feature matrix (the
    # standard correlation-trainer cache) makes it one scan.
    cc = churn_customers(spark, sf_dir).persist()

    def midranks(col: str):
        per_val = cc.groupBy(F.col(f"`{col}`").alias("val")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, -1)
        # doubled midrank: 2*cum_before + cnt + 1 (exact BIGINT)
        return per_val.select(
            "val",
            (
                2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
                + F.col("cnt")
                + F.lit(1)
            ).alias("u2"),
        )
    outs = []
    for x, y in SPEARMAN_PAIRS:
        rx = midranks(x).withColumnRenamed("val", "xv").withColumnRenamed(
            "u2", "ux"
        )
        ry = midranks(y).withColumnRenamed("val", "yv").withColumnRenamed(
            "u2", "uy"
        )
        j = (
            cc.select(
                F.col(f"`{x}`").alias("xv"), F.col(f"`{y}`").alias("yv")
            )
            # midrank tables are distinct-value-sized (SF-linear for
            # spend) — size-driven join, no forced broadcast
            .join(rx, "xv")
            .join(ry, "yv")
        )
        s = j.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ux").alias("su"),
            F.sum("uy").alias("sv"),
            F.sum(F.col("ux") * F.col("uy")).alias("suv"),
            F.sum(F.col("ux") * F.col("ux")).alias("suu"),
            F.sum(F.col("uy") * F.col("uy")).alias("svv"),
        )
        dn = F.col("n").cast("double")
        su, sv = F.col("su").cast("double"), F.col("sv").cast("double")
        num = F.col("suv").cast("double") - su * sv / dn
        den = F.sqrt(
            (F.col("suu").cast("double") - su * su / dn)
            * (F.col("svv").cast("double") - sv * sv / dn)
        )
        outs.append(
            s.select(
                F.lit(f"{x} ~ {y}").alias("pair"),
                "n",
                (F.when(den > 0, num / den) + F.lit(0.0)).alias(
                    "spearman_rho"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("pair")


def _spearman_oracle() -> str:
    parts = []
    for x, y in SPEARMAN_PAIRS:
        parts.append(f"""
SELECT '{x} ~ {y}' AS pair, n,
  CASE WHEN sqrt((CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * su / n)
      * (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n)) > 0
    THEN (CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * sv / n)
      / sqrt((CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * su / n)
        * (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n)) END + 0.0
    AS spearman_rho
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(ux) AS BIGINT) AS su, CAST(sum(uy) AS BIGINT) AS sv,
    CAST(sum(ux * uy) AS BIGINT) AS suv,
    CAST(sum(ux * ux) AS BIGINT) AS suu,
    CAST(sum(uy * uy) AS BIGINT) AS svv
  FROM (
    SELECT rx.u2 AS ux, ry.u2 AS uy
    FROM churn_customers c
    JOIN (
      SELECT val, 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY val
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        + cnt + 1 AS u2
      FROM (SELECT "{x}" AS val, CAST(count(*) AS BIGINT) AS cnt
            FROM churn_customers GROUP BY 1)
    ) rx ON rx.val = c."{x}"
    JOIN (
      SELECT val, 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY val
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        + cnt + 1 AS u2
      FROM (SELECT "{y}" AS val, CAST(count(*) AS BIGINT) AS cnt
            FROM churn_customers GROUP BY 1)
    ) ry ON ry.val = c."{y}"
  )
)""")
    return churn_cte() + "SELECT * FROM (" + " UNION ALL ".join(parts) + ") ORDER BY pair"


ORACLE["spearman_feature_pairs"] = _spearman_oracle()
QUERIES["spearman_feature_pairs"] = spearman_feature_pairs
