"""Tree-parity scorer tests: restricted artifact parse and gbtree eval
semantics (reference app_test.py:235-296). The end-to-end oracle check
of ``churn_score_booster`` is in test_oracle.py."""

import numpy as np
import pytest

from bigdata_group4_app_spark.ml import booster

pytestmark = pytest.mark.skipif(
    not booster.booster_available(), reason="reference artifact not on disk"
)


@pytest.fixture(scope="module")
def model():
    return booster.load_reference_model()


def test_parse_matches_survey_claims(model):
    """SURVEY §2.9's independently-derived numbers pin the parse."""
    assert model["n_trees"] == 400
    assert model["num_feature"] == 15
    assert model["base_score"] == pytest.approx(0.6319132, abs=1e-7)
    assert model["medians"] == pytest.approx(
        [40, 32, 16, 3, 13, 646.97, 14], abs=1e-9
    )
    assert model["means"][0] == pytest.approx(39.697, abs=1e-3)
    assert model["scales"][5] == pytest.approx(245.169, abs=1e-3)
    for t in model["trees"]:
        assert len(t["left"]) == len(t["cond"]) == len(t["feat"])
        assert (t["feat"] < 15).all()


def test_leaf_value_convention(model):
    """Pin the public-schema convention the scorer relies on: for leaf
    nodes split_conditions == base_weights == the eta-scaled leaf value.
    If an xgboost version change moved leaf values elsewhere, this fails
    loudly instead of silently mis-scoring."""
    for t in model["trees"]:
        leaves = t["left"] < 0
        assert np.array_equal(t["cond"][leaves], t["base_weights"][leaves])
        # internal thresholds are NOT leaf values: at least the root splits
        assert not leaves[0]


def _walk_one(x_f32: np.ndarray, t: dict) -> float:
    """Independent scalar reference: per-row tree walk, no vectorization."""
    n = 0
    while t["left"][n] >= 0:
        xv = x_f32[t["feat"][n]]
        if np.isnan(xv):
            go_left = bool(t["default_left"][n])
        else:
            go_left = bool(xv < t["cond"][n])
        n = t["left"][n] if go_left else t["right"][n]
    return float(t["cond"][n])


def test_vectorized_margin_agrees_with_scalar_walk(model):
    """The level-at-a-time gather must agree with a plain per-row walk
    (two independent implementations of the gbtree semantics) to 1e-9."""
    rng = np.random.RandomState(7)
    X = rng.normal(0, 2, size=(32, 15)).astype(np.float32)
    # one-hot tail takes realistic 0/1 values on half the rows
    X[16:, 7:] = rng.randint(0, 2, size=(16, 8)).astype(np.float32)
    fast = booster.margin_eval(X, model["trees"])
    for i in range(X.shape[0]):
        slow = sum(_walk_one(X[i], t) for t in model["trees"])
        assert fast[i] == pytest.approx(slow, abs=1e-9)


def test_predict_proba_bounds_and_bias(model):
    """sigmoid(bias) alone must equal base_score (boost_from_average)."""
    zero_margin_p = 1.0 / (1.0 + np.exp(-model["bias"]))
    assert zero_margin_p == pytest.approx(model["base_score"], abs=1e-7)


def test_score_upload_booster_route(spark):
    """score_upload(scorer='booster') = the reference user's upload path."""
    from bigdata_group4_app_spark.ml.scoring import SINGLE_ROW, score_upload

    upload = spark.createDataFrame(
        [tuple(SINGLE_ROW.values())], list(SINGLE_ROW)
    )
    row = score_upload(upload, scorer="booster").collect()[0]
    assert 0.0 < row["churn_probability"] < 1.0
    assert row["predicted_churn"] == int(row["churn_probability"] >= 0.5)
    # agrees with the direct numpy path on the same features
    model = booster.load_reference_model()
    feats = []
    for c, med, mean, scale in zip(
        booster.NUMERIC_COLS, model["medians"], model["means"], model["scales"]
    ):
        feats.append(np.float32((SINGLE_ROW[c] - mean) / scale))
    for c, _, levels in booster.CATEGORY_LEVELS:
        for lv in levels:
            feats.append(np.float32(1.0 if SINGLE_ROW[c] == lv else 0.0))
    p = booster.predict_proba(np.array([feats], dtype=np.float32), model)[0]
    assert row["churn_probability"] == pytest.approx(p, abs=1e-4)
