"""ML plugin analog (operators/ml.py, queries/ml_queries.py): accuracy and
recovery bounds mirroring the reference's TestLearnAggregations.java, plus
the scoring-path plan shape (vectorized transform, no Python UDF)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lyft_presto_spark.queries import all_queries


def test_classifier_separates_derived_target(spark, sf_dir):
    """Held-out accuracy on the linearly-separable target must be high —
    the reference's assertion shape (train on separable data, classify).
    The full confusion matrix (the evaluate_classifier_predictions shape)
    lives here; the registry row emits the oracle-checkable per-class
    counts + recall gates derived from it."""
    from lyft_presto_spark.queries.ml_queries import ml_confusion_matrix

    confusion = {(r.actual, r.predicted): r.n for r in ml_confusion_matrix(spark, sf_dir).collect()}
    total = sum(confusion.values())
    correct = confusion.get((0, 0), 0) + confusion.get((1, 1), 0)
    assert total > 0
    assert correct / total >= 0.9, f"accuracy {correct}/{total}"
    # the registry row's per-class gates agree with the matrix
    qs = all_queries()
    for r in qs["ml_classify"].spark(spark, sf_dir).collect():
        cls_total = sum(n for (a, _), n in confusion.items() if a == r.actual)
        assert r.n_rows == cls_total
        assert r.recall_ok == (confusion.get((r.actual, r.actual), 0) / cls_total >= 0.85)


def test_classifier_is_deterministic(spark, sf_dir):
    """Two invocations (cached model; also a fresh fit) agree row-for-row."""
    from lyft_presto_spark.operators import ml as M
    from lyft_presto_spark.queries.ml_queries import _cls_split, ml_confusion_matrix

    a = sorted(map(tuple, ml_confusion_matrix(spark, sf_dir).collect()))
    b = sorted(map(tuple, ml_confusion_matrix(spark, sf_dir).collect()))
    assert a == b
    # fresh (uncached) fit on the same data reproduces the cached model's output
    train, test = _cls_split(spark, sf_dir)
    fresh = M.learn_classifier(train, "target", "embedding")
    scored = (
        M.classify(test, fresh, "embedding")
        .groupBy(F.col("target").cast("bigint"), F.col("prediction").cast("bigint"))
        .count()
    )
    assert sorted(map(tuple, scored.collect())) == a


def test_regressor_recovers_exact_linear_form(spark, sf_dir):
    """Closed-form WLS on a noise-free linear target: coefficients, intercept
    and RMSE flags must all come back true (TestLearnAggregations regress)."""
    qs = all_queries()
    row = qs["ml_regress"].spark(spark, sf_dir).collect()[0]
    assert row.n_test > 0
    assert row.rmse_ok and row.coefs_ok and row.intercept_ok


def test_scoring_path_has_no_python_udf(spark, sf_dir):
    """classify() must stay a JVM transform: no BatchEvalPython / ArrowEval
    in the scoring plan (the reference scores inside the JVM too; a per-row
    Python UDF would be the 100x-slower wrong shape at scale)."""
    from lyft_presto_spark.operators import ml as M
    from lyft_presto_spark.operators.staging import session_memo
    from lyft_presto_spark.plans.inspect import formatted_plan
    from lyft_presto_spark.queries.ml_queries import _cls_split

    train, test = _cls_split(spark, sf_dir)
    model = session_memo(
        spark, ("ml_classify", sf_dir), lambda: M.learn_classifier(train, "target", "embedding")
    )
    plan = formatted_plan(M.classify(test, model, "embedding"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
