"""Tests for the scoring pipeline: oracle parity, pandas-UDF agreement,
Spark ML GBT training, and Spark-native preprocessing fit."""

import pytest
from pyspark.sql import functions as F

from bigdata_group4_app_spark.ml import preprocess, scoring
from bigdata_group4_app_spark.plans.churn import churn_customers

from .conftest import SF_CORRECT, SF_SMOKE, check_registered


@pytest.mark.parametrize("name", sorted(scoring.QUERIES))
def test_oracle_parity(spark, name):
    check_registered(spark, name, SF_CORRECT)


def test_pandas_udf_matches_expression_tier(spark):
    """M5: the Arrow-batched UDF scorer must agree with the codegen
    expression scorer (same weights, same preprocessing)."""
    df = churn_customers(spark, SF_SMOKE)
    expr = scoring.churn_score_batch(spark, SF_SMOKE).select(
        "CustomerID", "churn_probability"
    )
    udf = scoring.score_with_pandas_udf(df)
    joined = expr.alias("a").join(udf.alias("b"), "CustomerID")
    bad = joined.filter(
        F.abs(F.col("a.churn_probability") - F.col("b.churn_probability")) > 1e-9
    ).count()
    assert bad == 0


def test_single_row_score_matches_manual(spark):
    """The reference's canonical form-default input, scored by hand."""
    row = scoring.single_customer_score(spark, SF_SMOKE).collect()[0]
    z = scoring.INTERCEPT
    vals = scoring.SINGLE_ROW
    for kind, key, w in scoring.WEIGHTS:
        if kind == "num":
            median, mean, std = preprocess.NUMERIC_STATS[key]
            z += w * ((vals[key] - mean) / std)
        else:
            col, cat = key
            z += w * (1.0 if vals[col] == cat else 0.0)
    expected = round(scoring.sigmoid(z), 4)
    assert row["churn_probability"] == pytest.approx(expected, abs=1e-9)
    assert row["risk"] in ("Low Risk", "Medium Risk", "High Risk")
    assert row["churn_pct"].endswith("%")


def test_unknown_category_encodes_all_zeros(spark):
    """OHE handle_unknown='ignore' parity: 'Platinum' rows must get
    all-zero subscription encoding (not an error, not an impute)."""
    df = spark.createDataFrame(
        [("Platinum",)], ["Subscription Type"]
    ).select(
        *[
            preprocess.onehot("Subscription Type", c).alias(c)
            for c in ("Basic", "Premium", "Standard")
        ]
    )
    row = df.collect()[0]
    assert (row["Basic"], row["Premium"], row["Standard"]) == (0.0, 0.0, 0.0)


def test_fit_preprocess_params(spark):
    """Spark-native fit learns sane stats from the derived churn table."""
    params = preprocess.fit_preprocess_params(churn_customers(spark, SF_CORRECT))
    age_median, age_mean, age_std = params["numeric"]["Age"]
    assert 18 <= age_median <= 100
    assert 40 <= age_mean <= 75
    assert age_std > 0
    mode, cats = params["categorical"]["Subscription Type"]
    assert mode in cats
    assert cats == ["Basic", "Premium", "Standard"]


def test_gbt_trains_and_separates(spark):
    """Spark ML GBT tier: trains on the derived table and actually learns
    the (deterministic) churn signal."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    df = churn_customers(spark, SF_SMOKE)
    model, scored = scoring.train_gbt(df, max_iter=10)
    auc = BinaryClassificationEvaluator(
        labelCol="Churn", rawPredictionCol="rawPrediction"
    ).evaluate(scored)
    assert auc > 0.8, f"GBT failed to learn churn signal, AUC={auc}"


def test_kfold_auc_matches_naive_midrank_replay(spark):
    """The cell-aggregated AUC must equal the per-row Mann-Whitney
    midrank computation replayed in plain Python, fold by fold."""
    import hashlib

    rows = churn_customers(spark, SF_CORRECT).select(
        "CustomerID", "Churn"
    ).collect()
    probs = {
        r["CustomerID"]: r["churn_probability"]
        for r in scoring.churn_score_batch(spark, SF_CORRECT).collect()
    }
    folds: dict = {}
    for r in rows:
        h = int(
            hashlib.md5(f"fold_{r['CustomerID']}".encode()).hexdigest()[:8], 16
        ) % scoring.N_FOLDS
        folds.setdefault(h, []).append((probs[r["CustomerID"]], r["Churn"]))
    got = {r["fold"]: r for r in scoring.kfold_churn_auc(spark, SF_CORRECT).collect()}
    assert set(got) == set(folds)
    for f, pairs in folds.items():
        pairs.sort()
        n = len(pairs)
        # midranks: average rank over ties
        ranks = {}
        i = 0
        while i < n:
            j = i
            while j < n and pairs[j][0] == pairs[i][0]:
                j += 1
            mid = (i + 1 + j) / 2.0
            for k in range(i, j):
                ranks[k] = mid
            i = j
        n_pos = sum(1 for _, y in pairs if y)
        n_neg = n - n_pos
        pos_rank_sum = sum(ranks[k] for k, (_, y) in enumerate(pairs) if y)
        auc = (pos_rank_sum - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
        assert got[f]["n"] == n and got[f]["n_pos"] == n_pos
        assert abs(got[f]["auc"] - round(auc, 4)) < 1e-9, f


def test_scorer_metrics_replay(spark):
    """Replay Brier / log-loss / accuracy per fold in pure Python."""
    import hashlib
    import math

    rows = churn_customers(spark, SF_CORRECT).select(
        "CustomerID", "Churn"
    ).collect()
    probs = {
        r["CustomerID"]: r["churn_probability"]
        for r in scoring.churn_score_batch(spark, SF_CORRECT).collect()
    }
    folds: dict = {}
    for r in rows:
        h = int(
            hashlib.md5(f"fold_{r['CustomerID']}".encode()).hexdigest()[:8], 16
        ) % scoring.N_FOLDS
        folds.setdefault(h, []).append((probs[r["CustomerID"]], float(r["Churn"])))
    got = {
        r["fold"]: r
        for r in scoring.churn_scorer_metrics(spark, SF_CORRECT).collect()
    }
    for f, pairs in folds.items():
        n = len(pairs)
        brier = sum((p - y) ** 2 for p, y in pairs) / n
        ll = -sum(
            y * math.log(min(max(p, 1e-6), 1 - 1e-6))
            + (1 - y) * math.log(1 - min(max(p, 1e-6), 1 - 1e-6))
            for p, y in pairs
        ) / n
        acc = sum(1.0 for p, y in pairs if (1.0 if p >= 0.5 else 0.0) == y) / n
        r = got[f]
        assert r["n"] == n
        assert abs(r["brier"] - brier) < 1e-3
        assert abs(r["log_loss"] - ll) < 1e-3
        assert abs(r["accuracy"] - acc) < 1e-3


def test_fit_preprocess_all_null_categorical_mode(spark):
    """An entirely-NULL categorical column has no non-null votes: the fit
    must return mode=None (impute nothing) instead of IndexError
    (round-3 advisor finding)."""
    from pyspark.sql import functions as F

    df = churn_customers(spark, SF_SMOKE).withColumn(
        "Contract Length", F.lit(None).cast("string")
    )
    params = preprocess.fit_preprocess_params(df)
    mode, cats = params["categorical"]["Contract Length"]
    assert mode is None and cats == []
