"""Preprocessing operators M1-M4: median impute → standardize →
most-frequent impute → one-hot encode.

The fitted statistics below are the training-data distribution recovered
from the reference's model artifact (best_model.pkl: SimpleImputer
``statistics_``, StandardScaler ``mean_``/``scale_``, OneHotEncoder
categories — SURVEY.md §2.9). Freezing them as literals makes the whole
preprocessing stage pure Column arithmetic: no fit pass, no shuffle, fully
SQL-expressible for the oracle, and embarrassingly parallel at 100 TB.

``fit_preprocess_params`` shows the Spark-native fit path for new data:
``approxQuantile`` for medians (single pass, no sort) and a groupBy-count
for modes.

One-hot categories are sorted alphabetically with unknown → all-zeros,
matching sklearn's OneHotEncoder(handle_unknown="ignore") semantics in the
reference pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# fitted numeric stats: column -> (median, mean, std)  [best_model.pkl]
NUMERIC_STATS: dict[str, tuple[float, float, float]] = {
    "Age": (40.0, 39.697, 12.679),
    "Tenure": (32.0, 31.238, 17.319),
    "Usage Frequency": (16.0, 15.807, 8.591),
    "Support Calls": (3.0, 3.846, 3.134),
    "Payment Delay": (13.0, 13.309, 8.420),
    "Total Spend": (646.97, 619.414, 245.169),
    "Last Interaction": (14.0, 14.643, 8.611),
}

# fitted categorical stats: column -> (most-frequent impute, sorted categories)
CATEGORICAL_STATS: dict[str, tuple[str, list[str]]] = {
    "Gender": ("Male", ["Female", "Male"]),
    "Subscription Type": ("Premium", ["Basic", "Premium", "Standard"]),
    "Contract Length": ("Annual", ["Annual", "Monthly", "Quarterly"]),
}

FEATURE_ORDER = list(NUMERIC_STATS) + [
    f"{col}={cat}"
    for col in CATEGORICAL_STATS
    for cat in CATEGORICAL_STATS[col][1]
]  # 7 scaled + 8 one-hot = 15 features, matching the reference booster


def scaled_numeric(col: str) -> Column:
    """M1+M2: coalesce(col, median) then (x - mean) / std."""
    median, mean, std = NUMERIC_STATS[col]
    x = F.coalesce(F.col(col).cast("double"), F.lit(median))
    return (x - F.lit(mean)) / F.lit(std)


def scaled_numeric_sql(col: str, q: str = '"') -> str:
    median, mean, std = NUMERIC_STATS[col]
    return f"((coalesce(CAST({q}{col}{q} AS DOUBLE), {median!r}) - {mean!r}) / {std!r})"


def onehot(col: str, category: str) -> Column:
    """M3+M4: most-frequent impute then explicit deterministic one-hot."""
    mode, _ = CATEGORICAL_STATS[col]
    imputed = F.coalesce(F.col(col), F.lit(mode))
    return F.when(imputed == category, 1.0).otherwise(0.0)


def onehot_sql(col: str, category: str, q: str = '"') -> str:
    mode, _ = CATEGORICAL_STATS[col]
    return (
        f"(CASE WHEN coalesce({q}{col}{q}, '{mode}') = '{category}' "
        f"THEN 1.0 ELSE 0.0 END)"
    )


def fit_preprocess_params(df: DataFrame) -> dict:
    """Spark-native fit: learn medians/means/stds/modes from data.

    Single-pass friendly at scale: ``approxQuantile`` (Greenwald-Khanna
    sketch, no sort), one agg for moments, one tiny groupBy per categorical.
    This is the engine-owned replacement for the reference's pickled
    sklearn fit (reference app_test.py:14-20 loads it from disk).
    """
    # ONE sketch pass for every median and ONE agg for every moment —
    # the per-column loop form scanned the data ~17 times
    cols = list(NUMERIC_STATS)
    medians = df.approxQuantile(cols, [0.5], 0.001)
    moments = df.agg(
        *[F.avg(F.col(c)).alias(f"mean_{i}") for i, c in enumerate(cols)],
        *[
            F.stddev_pop(F.col(c)).alias(f"std_{i}")
            for i, c in enumerate(cols)
        ],
    ).collect()[0]
    numeric = {
        c: (medians[i][0], moments[f"mean_{i}"], moments[f"std_{i}"])
        for i, c in enumerate(cols)
    }
    categorical = {}
    for col in CATEGORICAL_STATS:
        # mode over NON-NULL values only (sklearn SimpleImputer semantics:
        # missing values never win the vote — a mostly-null column must
        # still impute the majority real category)
        counts = (
            df.filter(F.col(col).isNotNull())
            .groupBy(col)
            .count()
            .orderBy(F.desc("count"), col)
            .collect()
        )
        # an all-NULL column has no non-null votes: impute NULL (the
        # column carries no signal) instead of raising IndexError
        mode = counts[0][col] if counts else None
        cats = sorted(r[col] for r in counts)
        categorical[col] = (mode, cats)
    return {"numeric": numeric, "categorical": categorical}
