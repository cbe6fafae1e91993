"""Model training / evaluation / tuning (SURVEY.md §2j L7-L12).

Parameter-identical to the reference:
- DecisionTreeRegressor maxDepth=15, maxBins=60, seed=42
  (/root/reference/src/main/helper_methods.py:301, 341-342),
- LinearRegression maxIter=3, regParam=0.01, elasticNetParam=0.5
  (notebook cell 14),
- randomSplit([0.9, 0.1], seed=42) (helper_methods.py:283-300),
- MAE/RMSE as RegressionEvaluator defines them (helper_methods.py:346-369),
- CrossValidator 3-fold over a maxDepth x maxBins grid (notebook 17-18),
- mean-predictor fallback for untrainable inputs (helper_methods.py:329-339),
- featureImportances decoded through ml_attr metadata (helper_methods.py:182-195).

Physical improvements over the reference (SURVEY.md §3/§4): the
prepared frame is persisted before the fit loop (the reference
re-executes its uncached lineage 4+ times), both metrics and the row
count come from one aggregate, and the fallback mean is
broadcast-joined, not collected.
"""

from __future__ import annotations

from pyspark.ml import PipelineModel
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.regression import (
    DecisionTreeRegressor,
    DecisionTreeRegressionModel,
    LinearRegression,
)
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from flight_delay_prediction_using_pyspark_spark.operators.windows import with_global_agg


def split_train_validation(
    df: DataFrame, train_fraction: float = 0.9, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """M2 (helper_methods.py:283-300). Same seed on a different
    partitioning yields different rows — pin partitioning upstream when
    reproducibility across clusters matters."""
    train, val = df.randomSplit([train_fraction, 1.0 - train_fraction], seed=seed)
    return train, val


def train_decision_tree(
    prepared: DataFrame,
    label_col: str = "ArrDelay",
    features_col: str = "features",
    max_depth: int = 15,
    max_bins: int = 60,
    seed: int = 42,
) -> tuple[DecisionTreeRegressionModel, DataFrame]:
    """L7: fit on a persisted 90/10 split, return (model, validation
    predictions). Tree induction runs many internal aggregation jobs
    over the training set — persisting it is the difference between one
    scan and dozens at 100 TB."""
    prepared = prepared.persist(StorageLevel.MEMORY_AND_DISK)
    train, val = split_train_validation(prepared)
    tree = DecisionTreeRegressor(
        labelCol=label_col,
        featuresCol=features_col,
        maxDepth=max_depth,
        maxBins=max_bins,
        seed=seed,
    )
    model = tree.fit(train)
    return model, model.transform(val)


def train_linear_regression(
    prepared: DataFrame,
    label_col: str = "ArrDelay",
    features_col: str = "features",
) -> tuple[object, DataFrame]:
    """L8 baseline (notebook cell 14 config)."""
    prepared = prepared.persist(StorageLevel.MEMORY_AND_DISK)
    train, val = split_train_validation(prepared)
    lr = LinearRegression(
        labelCol=label_col,
        featuresCol=features_col,
        maxIter=3,
        regParam=0.01,
        elasticNetParam=0.5,
    )
    model = lr.fit(train)
    return model, model.transform(val)


def train_random_forest(
    prepared: DataFrame,
    label_col: str = "ArrDelay",
    features_col: str = "features",
    num_trees: int = 20,
    max_depth: int = 10,
    max_bins: int = 60,
    subsampling_rate: float = 0.7,
    seed: int = 42,
) -> tuple[object, DataFrame]:
    """Ensemble extension beyond the reference's single tree (L7):
    RandomForestRegressor with bootstrap subsampling. Forests scale
    BETTER than one deep tree on a cluster — trees train on shared
    per-node statistics jobs, and depth-10x20 needs far fewer
    sequential split rounds than one depth-15 tree while cutting
    variance. Same fit/transform contract as train_decision_tree."""
    from pyspark.ml.regression import RandomForestRegressor

    prepared = prepared.persist(StorageLevel.MEMORY_AND_DISK)
    train, val = split_train_validation(prepared)
    rf = RandomForestRegressor(
        labelCol=label_col,
        featuresCol=features_col,
        numTrees=num_trees,
        maxDepth=max_depth,
        maxBins=max_bins,
        subsamplingRate=subsampling_rate,
        seed=seed,
    )
    model = rf.fit(train)
    return model, model.transform(val)


def train_gbt(
    prepared: DataFrame,
    label_col: str = "ArrDelay",
    features_col: str = "features",
    max_iter: int = 10,
    max_depth: int = 5,
    max_bins: int = 60,
    step_size: float = 0.1,
    seed: int = 42,
) -> tuple[object, DataFrame]:
    """Gradient-boosted trees — the third tree family alongside the
    reference's single DT (L7) and the RF extension: shallow trees fit
    sequentially on residuals. Boosting's rounds are INHERENTLY
    sequential (each tree needs the previous ensemble's predictions),
    so on a cluster GBT trades RF's tree-parallelism for usually-better
    accuracy per tree — the classic bias/variance/wall-clock triangle.
    Same fit/transform contract as the other trainers."""
    from pyspark.ml.regression import GBTRegressor

    prepared = prepared.persist(StorageLevel.MEMORY_AND_DISK)
    train, val = split_train_validation(prepared)
    gbt = GBTRegressor(
        labelCol=label_col,
        featuresCol=features_col,
        maxIter=max_iter,
        maxDepth=max_depth,
        maxBins=max_bins,
        stepSize=step_size,
        seed=seed,
    )
    model = gbt.fit(train)
    return model, model.transform(val)


def evaluate_regression(
    predictions: DataFrame,
    label_col: str = "ArrDelay",
    prediction_col: str = "prediction",
) -> dict:
    """L9: MAE + RMSE in the reference's metric envelope
    (helper_methods.py:346-369), the same numbers RegressionEvaluator
    gives, plus `rows`, the frame's row count — all from ONE aggregate
    pass. Rows with a null label are counted but not scored; with no
    labeled row, mae and rmse are None."""
    err = F.col(prediction_col).cast("double") - F.col(label_col).cast("double")
    return predictions.agg(
        F.avg(F.abs(err)).alias("mae"),
        F.sqrt(F.avg(err * err)).alias("rmse"),
        F.count(F.lit(1)).alias("rows"),
    ).first().asDict()


def mean_fallback_predictions(
    df: DataFrame, label_col: str = "ArrDelay", prediction_col: str = "prediction"
) -> DataFrame:
    """L12: constant mean predictor for untrainable inputs
    (helper_methods.py:329-339) — computed as a scalar agg broadcast
    onto every row, not a driver collect."""
    return with_global_agg(df, F.avg(label_col), out_col=prediction_col)


def extract_feature_importance(
    model: DecisionTreeRegressionModel,
    encoded: DataFrame,
    features_col: str = "features",
    top_k: int = 30,
    numeric_cols: list[str] | None = None,
) -> list[tuple[str, float]]:
    """L11 (helper_methods.py:182-195): map featureImportances vector
    slots back to names via the ml_attr column metadata, top-k by score.
    RobustScaler strips the original numeric names (slots surface as
    `scaledFeatures_<i>`), so pass `numeric_cols` to restore them.
    Driver-side by design: the importance vector is tiny."""
    attrs = encoded.schema[features_col].metadata.get("ml_attr", {}).get("attrs", {})
    names: dict[int, str] = {}
    for group in attrs.values():
        for attr in group:
            name = attr["name"]
            if numeric_cols is not None and name.startswith("scaledFeatures_"):
                slot = int(name.rsplit("_", 1)[1])
                if slot < len(numeric_cols):
                    name = numeric_cols[slot]
            names[attr["idx"]] = name
    importances = model.featureImportances
    scored = [
        (names.get(int(i), f"feature_{int(i)}"), float(importances[int(i)]))
        for i in importances.indices
    ]
    return sorted(scored, key=lambda kv: -kv[1])[:top_k]


def cross_validate_tree(
    prepared: DataFrame,
    pipeline_model: PipelineModel | None = None,
    label_col: str = "ArrDelay",
    features_col: str = "features",
    max_depth_grid: list[int] | None = None,
    max_bins_grid: list[int] | None = None,
    num_folds: int = 3,
    seed: int = 42,
    parallelism: int = 4,
) -> tuple[DecisionTreeRegressionModel, list[float]]:
    """L10 (notebook cells 17-18): 3-fold CV over maxDepth x maxBins.
    `parallelism` fits grid points concurrently — the reference fits
    them serially."""
    tree = DecisionTreeRegressor(labelCol=label_col, featuresCol=features_col, seed=seed)
    grid = (
        ParamGridBuilder()
        .addGrid(tree.maxDepth, max_depth_grid or [5, 10, 15])
        .addGrid(tree.maxBins, max_bins_grid or [32, 64])
        .build()
    )
    evaluator = RegressionEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="rmse"
    )
    cv = CrossValidator(
        estimator=tree,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=num_folds,
        seed=seed,
        parallelism=parallelism,
    )
    prepared = prepared.persist(StorageLevel.MEMORY_AND_DISK)
    cv_model = cv.fit(prepared)
    return cv_model.bestModel, list(cv_model.avgMetrics)


def cross_validation_summary(
    prepared: DataFrame,
    label_col: str = "ArrDelay",
    features_col: str = "features",
    max_depth_grid: list[int] | None = None,
    max_bins_grid: list[int] | None = None,
    num_folds: int = 3,
    seed: int = 42,
    parallelism: int = 4,
) -> list[tuple[int, int, float, bool]]:
    """L10 grid-results surface (notebook cells 17-18: avgMetrics +
    best-params extraction): one row per grid point —
    (max_depth, max_bins, avg_rmse, is_best). Param maps come back in
    ParamGridBuilder's deterministic product order, so zip(grid,
    avgMetrics) is exact."""
    tree = DecisionTreeRegressor(labelCol=label_col, featuresCol=features_col, seed=seed)
    grid = (
        ParamGridBuilder()
        .addGrid(tree.maxDepth, max_depth_grid or [5, 10, 15])
        .addGrid(tree.maxBins, max_bins_grid or [32, 64])
        .build()
    )
    evaluator = RegressionEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="rmse"
    )
    cv = CrossValidator(
        estimator=tree,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=num_folds,
        seed=seed,
        parallelism=parallelism,
    )
    prepared = prepared.persist(StorageLevel.MEMORY_AND_DISK)
    cv_model = cv.fit(prepared)
    metrics = list(cv_model.avgMetrics)
    best_i = min(range(len(metrics)), key=metrics.__getitem__)
    return [
        (
            pm[tree.maxDepth],
            pm[tree.maxBins],
            float(m),
            i == best_i,
        )
        for i, (pm, m) in enumerate(zip(grid, metrics))
    ]
