from flight_delay_prediction_using_pyspark_spark.ml.pipeline import (
    build_feature_pipeline,
    impute_numeric,
)
from flight_delay_prediction_using_pyspark_spark.ml.train import (
    cross_validate_tree,
    evaluate_regression,
    extract_feature_importance,
    mean_fallback_predictions,
    train_decision_tree,
    train_gbt,
    train_linear_regression,
    train_random_forest,
)

__all__ = [
    "build_feature_pipeline",
    "impute_numeric",
    "cross_validate_tree",
    "evaluate_regression",
    "extract_feature_importance",
    "mean_fallback_predictions",
    "train_decision_tree",
    "train_gbt",
    "train_linear_regression",
    "train_random_forest",
]
