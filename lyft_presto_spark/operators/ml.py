"""ML plugin analog: learn/classify and learn/regress over feature columns.

The reference's presto-ml plugin exposes ``learn_classifier(label, features)``
/ ``learn_regressor`` as aggregates producing a model value, and ``classify``
/ ``regress`` as scalars applying it (MLFunctions.java:47-86,
LearnClassifierAggregation.java, LearnRegressorAggregation.java; features
built by the ``features()`` constructor, MLFeaturesFunctions.java). The
Spark-first mapping is MLlib: training is one fit() job over a DataFrame
(the aggregate), scoring is ``model.transform`` — a JVM-side vectorized
batch transform, never a per-row Python UDF.

Iterative training is not SQL-expressible, so registry queries built on this
are rows-only for the driver's oracle; correctness is accuracy/recovery
bounds mirroring the reference's TestLearnAggregations.java (which also
trains on synthetic separable data and asserts the prediction quality).

Scale: fit() is a distributed LBFGS/WLS job (the reference trains on a
single node inside the aggregate — MLlib is strictly more scalable);
transform adds one projection to the scoring scan. Queries train once per
session and score many times: ml_queries fits each model through
``operators.staging.session_memo``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEED = 42


def _features(df: DataFrame, features_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(
        "__features", array_to_vector(F.col(features_col).cast("array<double>"))
    )


def learn_classifier(train: DataFrame, label_col: str, features_col: str):
    """Train a logistic-regression classifier (learn_classifier analog)."""
    from pyspark.ml.classification import LogisticRegression

    lr = LogisticRegression(
        featuresCol="__features", labelCol=label_col, maxIter=50, regParam=1e-4
    )
    return lr.fit(_features(train, features_col))


def classify(df: DataFrame, model, features_col: str) -> DataFrame:
    """Score rows with a trained classifier (classify analog): one vectorized
    JVM transform; adds a ``prediction`` double column."""
    return model.transform(_features(df, features_col)).drop(
        "__features", "rawPrediction", "probability"
    )


def learn_regressor(train: DataFrame, label_col: str, features_col: str):
    """Train a linear regressor (learn_regressor analog). solver='normal'
    (closed-form WLS) keeps the fit deterministic for a fixed input."""
    from pyspark.ml.regression import LinearRegression

    lr = LinearRegression(
        featuresCol="__features", labelCol=label_col, solver="normal", regParam=0.0
    )
    return lr.fit(_features(train, features_col))


def regress(df: DataFrame, model, features_col: str) -> DataFrame:
    """Score rows with a trained regressor (regress analog)."""
    return model.transform(_features(df, features_col)).drop("__features")
