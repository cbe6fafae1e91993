"""Model training / evaluation / tuning (SURVEY.md §2j L7-L12).

One mechanism per concern:
- one fit path, `_fit_on_split` (persist → 90/10 split → fit →
  transform the validation side); each `train_*` is an estimator
  construction plus one call to it, returning (model, val_preds),
- one CrossValidator, `cross_validate_tree`, which returns both the
  best model and the per-grid-point rows,
- fixed column names, as in the reference: label `ArrDelay`
  (`LABEL`), features `features`, predictions `prediction`.

Parameter-identical to the reference:
- DecisionTreeRegressor maxDepth=15, maxBins=60, seed=42
  (/root/reference/src/main/helper_methods.py:301, 341-342),
- LinearRegression maxIter=3, regParam=0.01, elasticNetParam=0.5
  (notebook cell 14),
- a 90/10 train/validation split with seed 42 (helper_methods.py:283-300),
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

from collections.abc import Sequence

from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.regression import (
    DecisionTreeRegressor,
    DecisionTreeRegressionModel,
    GBTRegressor,
    LinearRegression,
    RandomForestRegressor,
)
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from flight_delay_prediction_using_pyspark_spark.operators.windows import with_global_agg

LABEL = "ArrDelay"


def _fit_on_split(estimator, prepared: DataFrame) -> tuple[object, DataFrame]:
    """The one fit path (L7, helper_methods.py:283-300): persist the
    prepared frame, split it 90/10 with seed 42, fit on the 90 and
    return (model, predictions on the 10). Model fits run many
    internal aggregation jobs over the training set — persisting it is
    the difference between one scan and dozens at 100 TB. Same seed on
    a different partitioning yields different rows — pin partitioning
    upstream when reproducibility across clusters matters."""
    prepared = prepared.persist(StorageLevel.MEMORY_AND_DISK)
    train, val = prepared.randomSplit([0.9, 0.1], seed=42)
    model = estimator.setLabelCol(LABEL).fit(train)
    return model, model.transform(val)


def train_decision_tree(
    prepared: DataFrame, max_depth: int = 15, max_bins: int = 60
) -> tuple[DecisionTreeRegressionModel, DataFrame]:
    """L7: the reference's DecisionTreeRegressor on the 90/10 split."""
    return _fit_on_split(
        DecisionTreeRegressor(maxDepth=max_depth, maxBins=max_bins, seed=42), prepared
    )


def train_linear_regression(prepared: DataFrame) -> tuple[object, DataFrame]:
    """L8 baseline (notebook cell 14 config)."""
    return _fit_on_split(
        LinearRegression(maxIter=3, regParam=0.01, elasticNetParam=0.5), prepared
    )


def train_random_forest(
    prepared: DataFrame, num_trees: int = 20, max_depth: int = 10, max_bins: int = 60
) -> tuple[object, DataFrame]:
    """Ensemble extension beyond the reference's single tree (L7):
    RandomForestRegressor with 70% bootstrap subsampling. Forests scale
    BETTER than one deep tree on a cluster — trees train on shared
    per-node statistics jobs, and depth-10x20 needs far fewer
    sequential split rounds than one depth-15 tree while cutting
    variance."""
    return _fit_on_split(
        RandomForestRegressor(
            numTrees=num_trees,
            maxDepth=max_depth,
            maxBins=max_bins,
            subsamplingRate=0.7,
            seed=42,
        ),
        prepared,
    )


def train_gbt(prepared: DataFrame, max_iter: int = 10) -> tuple[object, DataFrame]:
    """Gradient-boosted trees — the third tree family alongside the
    reference's single DT (L7) and the RF extension: depth-5 trees fit
    sequentially on residuals with step 0.1. Boosting's rounds are
    INHERENTLY sequential (each tree needs the previous ensemble's
    predictions), so on a cluster GBT trades RF's tree-parallelism for
    usually-better accuracy per tree — the classic
    bias/variance/wall-clock triangle."""
    return _fit_on_split(
        GBTRegressor(maxIter=max_iter, maxDepth=5, maxBins=60, stepSize=0.1, seed=42),
        prepared,
    )


def evaluate_regression(predictions: DataFrame) -> dict:
    """L9: MAE + RMSE in the reference's metric envelope
    (helper_methods.py:346-369), the same numbers RegressionEvaluator
    gives, plus `rows`, the frame's row count — all from ONE aggregate
    pass. Rows with a null label are counted but not scored; with no
    labeled row, mae and rmse are None."""
    err = F.col("prediction").cast("double") - F.col(LABEL).cast("double")
    return predictions.agg(
        F.avg(F.abs(err)).alias("mae"),
        F.sqrt(F.avg(err * err)).alias("rmse"),
        F.count(F.lit(1)).alias("rows"),
    ).first().asDict()


def mean_fallback_predictions(df: DataFrame) -> DataFrame:
    """L12: constant mean predictor for untrainable inputs
    (helper_methods.py:329-339) — computed as a scalar agg broadcast
    onto every row, not a driver collect."""
    return with_global_agg(df, F.avg(LABEL), out_col="prediction")


def extract_feature_importance(
    model: DecisionTreeRegressionModel,
    encoded: DataFrame,
    top_k: int = 30,
    numeric_cols: list[str] | None = None,
) -> list[tuple[str, float]]:
    """L11 (helper_methods.py:182-195): map featureImportances vector
    slots back to names via the ml_attr column metadata, top-k by score.
    RobustScaler strips the original numeric names (slots surface as
    `scaledFeatures_<i>`), so pass `numeric_cols` to restore them.
    Driver-side by design: the importance vector is tiny."""
    attrs = encoded.schema["features"].metadata.get("ml_attr", {}).get("attrs", {})
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
    max_depth_grid: Sequence[int] = (5, 10, 15),
    max_bins_grid: Sequence[int] = (32, 64),
    num_folds: int = 3,
) -> tuple[DecisionTreeRegressionModel, list[tuple[int, int, float, bool]]]:
    """L10 (notebook cells 17-18: CrossValidator, avgMetrics and
    best-params extraction): k-fold CV over maxDepth x maxBins, four
    grid points fitting at once (the reference fits them serially).
    Returns the best model and one row per grid point —
    (max_depth, max_bins, avg_rmse, is_best). Param maps come back in
    ParamGridBuilder's deterministic product order, so zip(grid,
    avgMetrics) is exact."""
    tree = DecisionTreeRegressor(labelCol=LABEL, seed=42)
    grid = (
        ParamGridBuilder()
        .addGrid(tree.maxDepth, list(max_depth_grid))
        .addGrid(tree.maxBins, list(max_bins_grid))
        .build()
    )
    cv = CrossValidator(
        estimator=tree,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(labelCol=LABEL, metricName="rmse"),
        numFolds=num_folds,
        seed=42,
        parallelism=4,
    )
    cv_model = cv.fit(prepared.persist(StorageLevel.MEMORY_AND_DISK))
    metrics = list(cv_model.avgMetrics)
    best_i = min(range(len(metrics)), key=metrics.__getitem__)
    rows = [
        (pm[tree.maxDepth], pm[tree.maxBins], float(m), i == best_i)
        for i, (pm, m) in enumerate(zip(grid, metrics))
    ]
    return cv_model.bestModel, rows
