"""ML pipeline tests (SURVEY.md §2j): parameter parity, handleInvalid
behavior, learnability sanity (the reference's MAE~8min envelope is
data-specific, so we assert the pipeline learns a planted relationship
instead), fallback, importance decoding, and CV smoke."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.ml.pipeline import build_feature_pipeline
from flight_delay_prediction_using_pyspark_spark.ml.train import (
    cross_validate_tree,
    evaluate_regression,
    extract_feature_importance,
    mean_fallback_predictions,
    train_decision_tree,
    train_linear_regression,
)
from flight_delay_prediction_using_pyspark_spark.plans.prepare import (
    CATEGORICAL_FEATURES,
    NUMERIC_FEATURES,
    prepare_data,
)
from flight_delay_prediction_using_pyspark_spark.sources.synthetic import flights_df, plane_df


@pytest.fixture(scope="module")
def prepared(spark):
    df = prepare_data(flights_df(spark, 4000), plane_df(spark))
    df.persist()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def encoded(spark, prepared):
    pipeline = build_feature_pipeline(CATEGORICAL_FEATURES, NUMERIC_FEATURES)
    model = pipeline.fit(prepared)
    return model, model.transform(prepared)


def test_pipeline_stage_layout(spark):
    p = build_feature_pipeline(CATEGORICAL_FEATURES, NUMERIC_FEATURES)
    # multi-column indexer + multi-column encoder + numeric assembler
    # + scaler + final assembler (the reference's 24 stages collapsed
    # to 5, same per-column parameters)
    stages = p.getStages()
    assert len(stages) == 5
    assert stages[0].getOutputCols() == [f"{c}_index" for c in CATEGORICAL_FEATURES]
    assert stages[0].getHandleInvalid() == "keep"


def test_pipeline_encodes_features(encoded):
    _, out = encoded
    assert "features" in out.columns
    from pyspark.ml.functions import vector_to_array

    dims = (
        out.select(F.size(vector_to_array("features")).alias("d"))
        .agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .first()
    )
    assert dims.lo == dims.hi and dims.lo > len(NUMERIC_FEATURES)


def test_string_indexer_keeps_unseen_categories(spark, prepared, encoded):
    model, _ = encoded
    # Scoring-time frame with a manufacturer never seen at fit time:
    # handleInvalid="keep" must not drop or fail the row (the reference
    # relies on this for its test-file scoring path, main.py:181).
    row = prepared.limit(1).withColumn("manufacturer", F.lit("UNSEEN_MFR"))
    assert model.transform(row).count() == 1


def test_decision_tree_learns_planted_signal(spark, prepared):
    pipeline = build_feature_pipeline(CATEGORICAL_FEATURES, NUMERIC_FEATURES)
    # Plant ArrDelay ~ DepDelay: the tree must beat the trivial
    # mean-predictor by a wide margin if the plumbing is right.
    planted = prepared.withColumn(
        "ArrDelay", (F.col("DepDelay") * 1.0).cast("double")
    )
    model = pipeline.fit(planted)
    out = model.transform(planted)
    tree, val_preds = train_decision_tree(out, max_depth=8, max_bins=32)
    metrics = evaluate_regression(val_preds)
    stddev = planted.agg(F.stddev("ArrDelay")).first()[0]
    assert metrics["mae"] < stddev / 4
    assert math.isfinite(metrics["rmse"])


def test_evaluate_regression_matches_regression_evaluator(spark, encoded):
    """The one-aggregate evaluator gives RegressionEvaluator's MAE and
    RMSE and the frame's row count."""
    from pyspark.ml.evaluation import RegressionEvaluator

    _, out = encoded
    _, val_preds = train_linear_regression(out)
    metrics = evaluate_regression(val_preds)
    for name in ("mae", "rmse"):
        want = RegressionEvaluator(labelCol="ArrDelay", metricName=name).evaluate(val_preds)
        assert metrics[name] == pytest.approx(want, rel=1e-12, abs=0)
    assert metrics["rows"] == val_preds.count() > 0


def test_evaluate_regression_counts_but_skips_null_labels(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (None, 5.0), (3.0, 1.0)], "ArrDelay double, prediction double"
    )
    assert evaluate_regression(df) == {"mae": 1.5, "rmse": math.sqrt(2.5), "rows": 3}
    assert evaluate_regression(df.filter("ArrDelay IS NULL"))["mae"] is None


def test_feature_importance_decodes_names(spark, prepared):
    pipeline = build_feature_pipeline(CATEGORICAL_FEATURES, NUMERIC_FEATURES)
    planted = prepared.withColumn("ArrDelay", (F.col("DepDelay") * 1.0).cast("double"))
    model = pipeline.fit(planted)
    out = model.transform(planted)
    tree, _ = train_decision_tree(out, max_depth=5, max_bins=32)
    top = extract_feature_importance(tree, out, numeric_cols=NUMERIC_FEATURES)
    assert top and all(isinstance(n, str) and s >= 0 for n, s in top)
    # DepDelay drives the planted signal, so it should dominate.
    assert "DepDelay" in top[0][0]


def test_linear_regression_baseline(spark, prepared):
    pipeline = build_feature_pipeline(CATEGORICAL_FEATURES, NUMERIC_FEATURES)
    model = pipeline.fit(prepared)
    out = model.transform(prepared)
    _, val_preds = train_linear_regression(out)
    metrics = evaluate_regression(val_preds)
    assert math.isfinite(metrics["mae"]) and math.isfinite(metrics["rmse"])


def test_mean_fallback_is_constant_global_mean(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (6.0,)], ["ArrDelay"])
    out = mean_fallback_predictions(df).select("prediction").distinct().collect()
    assert len(out) == 1 and out[0].prediction == 3.0


def test_cross_validator_smoke(spark, prepared):
    pipeline = build_feature_pipeline(CATEGORICAL_FEATURES, NUMERIC_FEATURES)
    planted = prepared.withColumn("ArrDelay", (F.col("DepDelay") * 1.0).cast("double"))
    sample = planted.sample(0.3, seed=42)
    model = pipeline.fit(sample)
    out = model.transform(sample)
    best, avg_metrics = cross_validate_tree(
        out, max_depth_grid=[3, 6], max_bins_grid=[16], num_folds=2
    )
    assert len(avg_metrics) == 2
    assert best.getMaxDepth() in (3, 6)


def test_cross_validation_summary_grid_order(spark, prepared):
    from flight_delay_prediction_using_pyspark_spark.ml.train import cross_validation_summary

    pipeline = build_feature_pipeline(CATEGORICAL_FEATURES, NUMERIC_FEATURES)
    sample = prepared.sample(0.3, seed=42)
    out = pipeline.fit(sample).transform(sample)
    rows = cross_validation_summary(
        out, max_depth_grid=[3, 6], max_bins_grid=[16], num_folds=2
    )
    assert [(d, b) for d, b, _, _ in rows] == [(3, 16), (6, 16)]
    assert sum(is_best for _, _, _, is_best in rows) == 1
    best = min(rows, key=lambda r: r[2])
    assert best[3] and all(math.isfinite(r[2]) for r in rows)


def test_imputer_fills_all_nulls(spark):
    from flight_delay_prediction_using_pyspark_spark.ml.pipeline import impute_numeric
    from flight_delay_prediction_using_pyspark_spark.sources.synthetic import flights_df

    flights = flights_df(spark, n=2000).select(
        F.col("ArrDelay").cast("double"), F.col("Distance").cast("double")
    )
    out = impute_numeric(flights, ["ArrDelay", "Distance"])
    n_null = out.filter(
        F.col("ArrDelay_imp").isNull() | F.col("Distance_imp").isNull()
    ).count()
    assert n_null == 0
    # imputed value is the mean of the non-null observations
    mean = out.filter(F.col("ArrDelay").isNotNull()).agg(
        F.avg("ArrDelay")
    ).collect()[0][0]
    filled = (
        out.filter(F.col("ArrDelay").isNull())
        .select("ArrDelay_imp")
        .distinct()
        .collect()
    )
    assert len(filled) == 1 and filled[0][0] == pytest.approx(mean)
    # non-null rows pass through unchanged
    changed = out.filter(
        F.col("ArrDelay").isNotNull() & (F.col("ArrDelay") != F.col("ArrDelay_imp"))
    ).count()
    assert changed == 0


def test_imputer_median_strategy(spark):
    from flight_delay_prediction_using_pyspark_spark.ml.pipeline import impute_numeric

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (100.0,), (None,)], "x double"
    )
    out = impute_numeric(df, ["x"], strategy="median")
    filled = out.filter(F.col("x").isNull()).collect()[0]["x_imp"]
    assert filled == 2.0  # median, robust to the 100.0 outlier


def test_random_forest_learns_planted_signal(spark, prepared):
    from flight_delay_prediction_using_pyspark_spark.ml.train import train_random_forest

    pipeline = build_feature_pipeline(CATEGORICAL_FEATURES, NUMERIC_FEATURES)
    planted = prepared.withColumn(
        "ArrDelay", (F.col("DepDelay") * 1.0).cast("double")
    )
    model = pipeline.fit(planted)
    out = model.transform(planted)
    _, val_preds = train_random_forest(out, num_trees=10, max_depth=8, max_bins=32)
    metrics = evaluate_regression(val_preds)
    stddev = planted.agg(F.stddev("ArrDelay")).first()[0]
    assert metrics["mae"] < stddev / 4
    assert metrics["rmse"] >= metrics["mae"]


def test_gbt_learns_planted_signal(spark, prepared):
    from flight_delay_prediction_using_pyspark_spark.ml.train import train_gbt

    pipeline = build_feature_pipeline(CATEGORICAL_FEATURES, NUMERIC_FEATURES)
    planted = prepared.withColumn("ArrDelay", (F.col("DepDelay") * 1.0).cast("double"))
    out = pipeline.fit(planted).transform(planted)
    _, val_preds = train_gbt(out, max_iter=5)
    metrics = evaluate_regression(val_preds)
    stddev = planted.agg(F.stddev("ArrDelay")).first()[0]
    assert metrics["mae"] < stddev / 2
    assert metrics["rmse"] >= metrics["mae"]


def test_tree_to_sql_transpile_bit_exact(spark):
    """ml/tree_sql: a fitted tree's CASE-cascade transpilation must
    score BIT-equal to model.transform on every row, leaf count must
    respect the 2^depth bound, and raw categorical splits must refuse
    rather than mistranslate."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import DecisionTreeRegressor

    from flight_delay_prediction_using_pyspark_spark.ml.tree_sql import (
        count_leaves,
        tree_to_case_expr,
    )

    rows = [(float(i % 7), float((i * 3) % 11), float(i % 5)) for i in range(200)]
    df = spark.createDataFrame(rows, ["x1", "x2", "label"])
    feats = ["x1", "x2"]
    assembled = (
        VectorAssembler(inputCols=feats, outputCol="features")
        .transform(df)
        .repartition(2)
    )
    model = DecisionTreeRegressor(maxDepth=3, seed=7).fit(assembled)
    expr = tree_to_case_expr(model, feats)
    scored = model.transform(assembled).withColumn("sql_pred", F.expr(expr))
    assert (
        scored.filter(F.col("prediction") != F.col("sql_pred")).count() == 0
    )
    assert 2 <= count_leaves(model) <= 2**3


def test_tree_to_sql_refuses_categorical_splits(spark):
    """A tree trained on VectorIndexer-marked categorical features
    learns CategoricalSplit nodes; the transpiler must REFUSE them
    (one-hot upstream is the documented contract) rather than emit a
    wrong threshold comparison."""
    import pytest as _pytest
    from pyspark.ml.feature import VectorAssembler, VectorIndexer
    from pyspark.ml.regression import DecisionTreeRegressor

    from flight_delay_prediction_using_pyspark_spark.ml.tree_sql import (
        tree_to_case_expr,
    )

    rows = [
        (float(i % 3), float(i % 7), float((i % 3) * 10 + i % 2))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["cat", "x", "label"])
    raw = VectorAssembler(inputCols=["cat", "x"], outputCol="raw").transform(df)
    indexed = VectorIndexer(
        inputCol="raw", outputCol="features", maxCategories=4
    ).fit(raw).transform(raw)
    model = DecisionTreeRegressor(maxDepth=3, seed=1).fit(indexed)
    with _pytest.raises(NotImplementedError, match="continuous"):
        tree_to_case_expr(model, ["cat", "x"])


def test_tree_to_sql_quotes_awkward_column_names(spark):
    """Feature identifiers are backtick-quoted in the generated SQL
    (round-8 ADVICE): a column with a space, a dot, or a reserved
    keyword as its name must still transpile to a valid expression
    that scores bit-equal to model.transform."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import DecisionTreeRegressor

    from flight_delay_prediction_using_pyspark_spark.ml.tree_sql import (
        tree_to_case_expr,
    )

    rows = [(float(i % 7), float((i * 3) % 11), float(i % 5)) for i in range(200)]
    # a space and a reserved keyword (a dot-named column would break
    # VectorAssembler itself, upstream of the transpiler)
    feats = ["dep delay", "order"]
    df = spark.createDataFrame(rows, ["c1", "c2", "label"]).select(
        F.col("c1").alias("dep delay"),
        F.col("c2").alias("order"),
        "label",
    )
    assembled = (
        VectorAssembler(inputCols=feats, outputCol="features")
        .transform(df)
        .repartition(2)
    )
    model = DecisionTreeRegressor(maxDepth=3, seed=7).fit(assembled)
    expr = tree_to_case_expr(model, feats)
    assert "`" in expr
    scored = model.transform(assembled).withColumn("sql_pred", F.expr(expr))
    assert (
        scored.filter(F.col("prediction") != F.col("sql_pred")).count() == 0
    )


def test_vectorized_scorer_bit_equal_and_strategy(spark):
    """Round-9: the Arrow-vectorized tree scorer (tree_to_arrays +
    vectorized_tree_scorer) scores bit-equal to BOTH model.transform
    and the transpiled SQL expression, and scoring_strategy routes
    small trees to 'expression' / above-ceiling trees to
    'vectorized' (the measured janino whole-stage limit — see the
    tree_sql module docstring's probe table)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import DecisionTreeRegressor

    from flight_delay_prediction_using_pyspark_spark.ml.tree_sql import (
        WHOLESTAGE_SAFE_LEAVES,
        count_leaves,
        scoring_strategy,
        tree_to_arrays,
        tree_to_case_expr,
        vectorized_tree_scorer,
    )

    h = lambda c, m: (  # noqa: E731
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
            "double"
        )
        % m
    )
    feats = ["f1", "f2", "f3"]
    df = spark.range(0, 6000, 1, 4).select(
        h(F.col("id"), 997).alias("f1"),
        h(F.col("id") + 1, 613).alias("f2"),
        h(F.col("id") + 2, 211).alias("f3"),
    )
    df = df.withColumn(
        "label", (F.col("f1") * 0.31 + F.col("f2") % 17).cast("double")
    )
    assembled = (
        VectorAssembler(inputCols=feats, outputCol="features")
        .transform(df)
        .persist()
    )
    try:
        small = DecisionTreeRegressor(maxDepth=6, maxBins=60, seed=42).fit(
            assembled
        )
        assert count_leaves(small) <= WHOLESTAGE_SAFE_LEAVES
        assert scoring_strategy(small) == "expression"

        deep = DecisionTreeRegressor(maxDepth=12, maxBins=60, seed=42).fit(
            assembled
        )
        assert count_leaves(deep) > WHOLESTAGE_SAFE_LEAVES
        assert scoring_strategy(deep) == "vectorized"

        for model in (small, deep):
            scorer = vectorized_tree_scorer(tree_to_arrays(model), 3)
            scored = (
                model.transform(assembled)
                .withColumn("vec_pred", scorer(*[F.col(c) for c in feats]))
                .withColumn(
                    "sql_pred", F.expr(tree_to_case_expr(model, feats))
                )
            )
            bad = scored.filter(
                (F.col("prediction") != F.col("vec_pred"))
                | (F.col("prediction") != F.col("sql_pred"))
            ).count()
            assert bad == 0
    finally:
        assembled.unpersist()


def test_wholestage_compiles_probe(spark):
    """The janino probe reports True for a trivial projection and
    False for a transpiled above-ceiling tree (the measurement the
    ml_tree_sql_codegen_ceiling driver query pins)."""
    from flight_delay_prediction_using_pyspark_spark.ml.tree_sql import (
        wholestage_compiles,
    )
    from flight_delay_prediction_using_pyspark_spark.plans.queries import (
        _DEEP_FEATS,
        _deep_fit,
        _deep_synth,
    )
    from flight_delay_prediction_using_pyspark_spark.ml.tree_sql import (
        tree_to_case_expr,
    )

    raw = _deep_synth(spark, 20000)
    ok, n = wholestage_compiles(
        raw.select((F.col("f1") + F.col("f2")).alias("s"))
    )
    assert ok and n >= 1

    big = _deep_fit(spark, 20000, 11)
    expr = tree_to_case_expr(big, _DEEP_FEATS)
    ok_big, n_big = wholestage_compiles(
        raw.select(F.expr(expr).alias("p"))
    )
    assert n_big >= 1 and not ok_big
