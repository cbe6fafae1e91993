"""CLI batch entry point — the reference's main-path contract
(/root/reference/src/main/main.py:11-276) rebuilt on the engine's
operators.

Flags mirror the reference: positional input CSV + output dir,
`--plane-data` dimension CSV, `--test-file` score-only input,
`--count-only` row-count sanity mode, `--no-spark` pandas smoke mode,
`--label-threshold` for the early/on-time/delayed bucketing.

Differences from the reference are the engine's documented physical
fixes (SURVEY.md §4): explicit schemas instead of inferSchema,
persisted frontiers instead of 4x plan re-execution, broadcast
enrichment join, and native CASE labels instead of a row-at-a-time
UDF. Semantics (seeds, thresholds, handleInvalid modes, split
fractions) are identical.

Train path: load → prepare_data → fit feature pipeline + decision
tree → label predictions → one metrics aggregate (MAE, RMSE and the
row count) → parquet + single-file CSV. Score path (--test-file):
re-uses the FITTED pipeline/model (the train-once/score-many
contract; unseen categories survive via StringIndexer
handleInvalid='keep'), and its row count and MAE come from the same
one-aggregate evaluator. Every frame the run persists is released on
exit, so a second run in the same session starts from its inputs.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="flight-delay-engine",
        description="Train/score the flight-delay model (PySpark-native engine)",
    )
    p.add_argument("input", help="flights CSV (or .csv.bz2) path")
    p.add_argument("output", help="output directory")
    p.add_argument("--plane-data", default=None, help="aircraft dimension CSV path")
    p.add_argument("--test-file", default=None, help="score this CSV with the trained model")
    p.add_argument("--count-only", action="store_true", help="print raw/prepared row counts and exit")
    p.add_argument("--no-spark", action="store_true", help="pandas smoke mode (mean ArrDelay)")
    p.add_argument("--label-threshold", type=float, default=10.0)
    p.add_argument(
        "--figures",
        action="store_true",
        help="render the six report figures (SVG) into OUTPUT/figures",
    )
    return p


def _no_spark_smoke(input_path: str) -> dict:
    """Pandas oracle for the load path (mirrors the reference's
    --no-spark mode): row count + mean ArrDelay without a JVM."""
    import pandas as pd

    pdf = pd.read_csv(input_path, na_values=["NA"])
    return {
        "rows": int(len(pdf)),
        "mean_arrdelay": float(pdf["ArrDelay"].mean()) if "ArrDelay" in pdf else None,
    }


def _prepare(spark: SparkSession, input_path: str, plane_path: str | None) -> DataFrame:
    from flight_delay_prediction_using_pyspark_spark.plans import prepare as P
    from flight_delay_prediction_using_pyspark_spark.sources.readers import (
        read_flights_csv,
        read_plane_data_csv,
    )
    from flight_delay_prediction_using_pyspark_spark.sources.synthetic import plane_df

    flights = read_flights_csv(spark, input_path)
    plane = (
        read_plane_data_csv(spark, plane_path) if plane_path else plane_df(spark)
    )
    return P.prepare_data(flights, plane)


def run(argv: list[str] | None = None) -> dict:
    """Execute the job; returns a result summary dict (also printed).
    Import-light until needed so `--no-spark` stays JVM-free."""
    args = build_arg_parser().parse_args(argv)

    if args.no_spark:
        result = _no_spark_smoke(args.input)
        print(result)
        return result

    from flight_delay_prediction_using_pyspark_spark.functions.labels import (
        add_prediction_labels,
    )
    from flight_delay_prediction_using_pyspark_spark.ml.pipeline import (
        build_feature_pipeline,
    )
    from flight_delay_prediction_using_pyspark_spark.ml.train import (
        evaluate_regression,
        train_decision_tree,
    )
    from flight_delay_prediction_using_pyspark_spark.plans import prepare as P
    from flight_delay_prediction_using_pyspark_spark.session import get_spark
    from flight_delay_prediction_using_pyspark_spark.sources.writers import (
        write_parquet,
        write_single_csv,
    )

    # Only stop the session if this invocation created it — under a
    # test/driver harness getOrCreate returns the shared session, and
    # stopping someone else's session is not this CLI's call.
    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="flight-delay-engine")
    cached: list[DataFrame] = []  # every frame this run persists, released on exit
    try:
        prepared = _prepare(spark, args.input, args.plane_data).persist()
        cached.append(prepared)

        if args.count_only:
            from flight_delay_prediction_using_pyspark_spark.sources.readers import (
                read_flights_csv,
            )

            raw = read_flights_csv(spark, args.input)
            result = {"raw_rows": raw.count(), "prepared_rows": prepared.count()}
            print(result)
            return result

        pipeline = build_feature_pipeline(P.CATEGORICAL_FEATURES, P.NUMERIC_FEATURES)
        pipeline_model = pipeline.fit(prepared)
        encoded = pipeline_model.transform(prepared)
        cached.append(encoded)  # train_decision_tree persists it
        tree_model, val_preds = train_decision_tree(encoded)
        labeled = add_prediction_labels(
            val_preds, threshold=args.label_threshold
        ).persist()
        cached.append(labeled)
        metrics = evaluate_regression(labeled)
        os.makedirs(args.output, exist_ok=True)
        write_parquet(labeled, os.path.join(args.output, "predictions.parquet"))
        write_single_csv(labeled, os.path.join(args.output, "predictions.csv"))

        result = {
            "mae": metrics["mae"],
            "rmse": metrics["rmse"],
            "validation_rows": metrics["rows"],
        }

        if args.figures:
            from flight_delay_prediction_using_pyspark_spark.app.figures import (
                generate_report_figures,
            )

            result["figures"] = generate_report_figures(
                labeled, os.path.join(args.output, "figures")
            )

        if args.test_file:
            test_prepared = _prepare(spark, args.test_file, args.plane_data)
            test_encoded = pipeline_model.transform(test_prepared)
            test_preds = add_prediction_labels(
                tree_model.transform(test_encoded), threshold=args.label_threshold
            ).persist()
            cached.append(test_preds)
            write_parquet(
                test_preds, os.path.join(args.output, "test_predictions.parquet")
            )
            write_single_csv(
                test_preds, os.path.join(args.output, "test_predictions.csv")
            )
            test_metrics = evaluate_regression(test_preds)
            result["test_rows"] = test_metrics["rows"]
            if test_metrics["mae"] is not None:
                result["test_mae"] = test_metrics["mae"]

        print(result)
        return result
    finally:
        for df in cached:
            df.unpersist()
        if not pre_existing:
            spark.stop()


if __name__ == "__main__":
    run(sys.argv[1:])
