"""End-to-end CLI tests: fixture CSV → train → artifacts + metrics;
count-only and no-spark modes (the reference's three entry modes,
/root/reference/src/main/main.py:33-77)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.app.cli import run
from flight_delay_prediction_using_pyspark_spark.sources.schemas import FLIGHTS_SCHEMA
from flight_delay_prediction_using_pyspark_spark.sources.synthetic import flights_df
from flight_delay_prediction_using_pyspark_spark.sources.writers import write_single_csv


@pytest.fixture(scope="module")
def flights_csv(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli") / "flights.csv")
    cols = [f.name for f in FLIGHTS_SCHEMA.fields]
    write_single_csv(flights_df(spark, 3000).select(*cols), path)
    return path


def test_cli_no_spark_smoke(spark, flights_csv, tmp_path):
    result = run([flights_csv, str(tmp_path / "out"), "--no-spark"])
    assert result["rows"] == 3000
    # pandas mean must agree with the Spark-side mean (the independent
    # load-path oracle the reference's --no-spark mode provides)
    spark_mean = (
        spark.read.option("header", "true")
        .option("nullValue", "NA")
        .option("inferSchema", "true")
        .csv(flights_csv)
        .agg(F.avg("ArrDelay"))
        .first()[0]
    )
    assert result["mean_arrdelay"] == pytest.approx(spark_mean, rel=1e-9)


def test_cli_count_only(spark, flights_csv, tmp_path):
    result = run([flights_csv, str(tmp_path / "out"), "--count-only"])
    assert result["raw_rows"] == 3000
    assert 0 < result["prepared_rows"] < 3000  # cleaning drops rows


def test_report_figures_from_predictions(spark, tmp_path):
    """Figure parity with the reference's tools/generate_report_figures.py:
    the six report SVGs render from a predictions frame, with every
    figure's data computed Spark-side (confusion crosstab, 30-bin
    residual histogram, bounded hash sample for the scatter)."""
    from flight_delay_prediction_using_pyspark_spark.app.figures import (
        LABELS,
        generate_report_figures,
    )
    from flight_delay_prediction_using_pyspark_spark.functions.labels import (
        add_prediction_labels,
    )

    n = 500
    base = spark.range(n).select(
        (F.col("id") % 151 - 30).cast("double").alias("ArrDelay"),
        ((F.col("id") % 151 - 30) + (F.col("id") % 7 - 3)).cast("double").alias(
            "prediction"
        ),
        F.element_at(
            F.array(F.lit("morning"), F.lit("afternoon"), F.lit("evening"), F.lit("night")),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("DepTime_TOD"),
    )
    preds = add_prediction_labels(base)
    out = str(tmp_path / "figs")
    written = generate_report_figures(preds, out, max_points=200)
    names = {os.path.basename(p) for p in written}
    assert names == {
        "confusion_matrix_counts.svg",
        "confusion_matrix_normalized.svg",
        "label_distribution.svg",
        "pred_vs_actual.svg",
        "residuals_hist.svg",
        "mean_by_timewindow.svg",
    }
    cm = open(os.path.join(out, "confusion_matrix_counts.svg")).read()
    assert all(lbl in cm for lbl in LABELS) and "<svg" in cm and cm.endswith("</svg>")
    # counts in the matrix sum to n: extract annotated cell values
    import re

    hist = open(os.path.join(out, "residuals_hist.svg")).read()
    assert "mean=" in hist and "median=" in hist
    scatter = open(os.path.join(out, "pred_vs_actual.svg")).read()
    n_pts = len(re.findall(r"<circle", scatter))
    assert 0 < n_pts <= 200
    tod = open(os.path.join(out, "mean_by_timewindow.svg")).read()
    assert "morning" in tod and "Predicted" in tod


def test_report_figures_degenerate_inputs(spark, tmp_path):
    """Figures must not crash on the edge shapes a real pipeline
    produces: an empty prediction frame (renders nothing) and an
    all-null-actual frame (labels render, residual figures skip)."""
    from flight_delay_prediction_using_pyspark_spark.app.figures import (
        generate_report_figures,
    )
    from flight_delay_prediction_using_pyspark_spark.functions.labels import (
        add_prediction_labels,
    )

    empty = add_prediction_labels(
        spark.createDataFrame([], "prediction double, ArrDelay double")
    )
    out0 = str(tmp_path / "f0")
    written = generate_report_figures(empty, out0)
    names = {os.path.basename(p) for p in written}
    # label figures still render (all-zero matrix); point figures skip
    assert "pred_vs_actual.svg" not in names
    assert "residuals_hist.svg" not in names

    nulls = add_prediction_labels(
        spark.range(10).select(
            F.lit(None).cast("double").alias("ArrDelay"),
            F.col("id").cast("double").alias("prediction"),
        )
    )
    out1 = str(tmp_path / "f1")
    written = generate_report_figures(nulls, out1)
    assert all(open(p).read().endswith("</svg>") for p in written)


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SOAK") != "1",
    reason="large-input soak; run with SPARK_GRAFT_SOAK=1 (~3-6 min)",
)
def test_cli_soak_bz2_500k(spark, tmp_path):
    """Reference-scale soak (round-3 verdict task 6): the closest local
    analogue of the reference's published 500k-row bz2 run
    (/root/reference/README.md:94,111 — 8.07 min wall, MAE reported on
    the 2007 dataset). Generates a ~500k-row flights CSV with the
    deterministic synthetic generator, bz2-compresses it (the
    reference's input codec, exercising the splittable-codec read
    path), runs the FULL CLI train pipeline end-to-end, and asserts
    the planted-signal MAE envelope: the generator plants
    ArrDelay ≈ DepDelay + U[-5,10] noise, so a working tree must beat
    stddev/4 (≈11) by construction — and a generous wall-time ceiling
    that still catches an accidental O(n²) or per-row-UDF regression.

    SPARK_GRAFT_SOAK_ROWS overrides the row count (round-7 verdict
    item 8: a 1M-row run gives the scaling-slope claims a third
    decade; the wall ceiling scales linearly with the override so the
    O(n²) tripwire keeps its sensitivity)."""
    import bz2
    import time

    from flight_delay_prediction_using_pyspark_spark.sources.schemas import (
        FLIGHTS_SCHEMA,
    )

    n = int(os.environ.get("SPARK_GRAFT_SOAK_ROWS", "500000"))
    cols = [f.name for f in FLIGHTS_SCHEMA.fields]
    csv_path = str(tmp_path / "flights_500k.csv")
    write_single_csv(flights_df(spark, n).select(*cols), csv_path)
    bz2_path = csv_path + ".bz2"
    with open(csv_path, "rb") as src, bz2.open(bz2_path, "wb") as dst:
        while chunk := src.read(1 << 22):
            dst.write(chunk)
    os.remove(csv_path)

    out = tmp_path / "out"
    start = time.perf_counter()
    result = run([bz2_path, str(out)])
    wall = time.perf_counter() - start
    # one summary line for the per-round SOAK.md record (run with -s)
    print(
        f"\nSOAK: rows={n} wall={wall:.1f}s mae={result['mae']:.3f} "
        f"rmse={result['rmse']:.3f} validation_rows={result['validation_rows']}"
    )

    stddev = (
        flights_df(spark, n).agg(F.stddev("ArrDelay")).first()[0]
    )
    assert result["mae"] < stddev / 4, (result, stddev)
    assert result["rmse"] >= result["mae"]
    # prepared ≈ 60% of raw (dedup + cancelled/null filters + the inner
    # plane-dimension join), validation = 10% split of that. The
    # round-12 generator widened the unique_id key-space period to
    # ~100.5M (see sources/synthetic.py): below that, the only
    # duplicate keys are the PLANTED i%7==3 clones (distinct-key ratio
    # 6/7 ≈ 0.857, measured flat through 8M), so the validation floor
    # no longer needs a saturation-knee correction.
    assert result["validation_rows"] > 0.05 * n
    assert os.path.exists(out / "predictions.csv")
    # The reference's single-node run takes 8.07 min on the full-size
    # input; anything near that here (local[32], 500k rows) means a
    # scale regression, not variance. Ceiling scales with the row
    # override (360 s at the 500k default).
    assert wall < 360 * n / 500_000, f"soak took {wall:.0f}s at {n} rows"


def test_cli_train_and_score(spark, flights_csv, tmp_path, monkeypatch):
    # run() must look train_decision_tree and evaluate_regression up on
    # ml.train at call time: perfbench's trace attributes its
    # ml.train.fit / ml.train.evaluate layers by patching these names.
    from flight_delay_prediction_using_pyspark_spark.ml import train

    calls = {"train_decision_tree": 0, "evaluate_regression": 0}

    def counting(name):
        fn = getattr(train, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        return wrapper

    for name in calls:
        monkeypatch.setattr(train, name, counting(name))
    out = tmp_path / "out"
    result = run(
        [flights_csv, str(out), "--test-file", flights_csv, "--figures"]
    )
    assert calls == {"train_decision_tree": 1, "evaluate_regression": 2}
    assert len(result["figures"]) == 6
    assert all(os.path.exists(p) for p in result["figures"])
    assert result["mae"] >= 0 and result["rmse"] >= result["mae"]
    assert result["validation_rows"] > 0
    assert result["test_rows"] > 0
    assert os.path.exists(out / "predictions.csv")
    assert os.path.isdir(out / "predictions.parquet")
    assert os.path.exists(out / "test_predictions.csv")
    preds = spark.read.parquet(str(out / "test_predictions.parquet"))
    labels = {r.predicted_label for r in preds.select("predicted_label").distinct().collect()}
    assert labels <= {"early", "on time", "delayed"}


#: Spark jobs of one train + score run on the 3000-row fixture, audited
#: with zero slack in the shared test session (36 at 2, 4 and 8 local
#: cores): one CSV decode per input, one metrics aggregate per
#: evaluation, and no count() actions of the CLI's own.
CLI_JOB_BUDGET = 36


@pytest.fixture(scope="module")
def cli_run_ledger(spark, flights_csv, tmp_path_factory):
    """One train + score run under a job group: its job ids, and the
    session's persisted-RDD count before and after."""
    sc = spark.sparkContext
    cached_before = sc._jsc.getPersistentRDDs().size()
    group = "cli-run-ledger"
    sc.setJobGroup(group, "one CLI train + score run")
    try:
        out = str(tmp_path_factory.mktemp("ledger") / "out")
        run([flights_csv, out, "--test-file", flights_csv])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return {
        "jobs": sc.statusTracker().getJobIdsForGroup(group),
        "cached_before": cached_before,
        "cached_after": sc._jsc.getPersistentRDDs().size(),
    }


def test_cli_releases_its_caches(cli_run_ledger):
    """Every frame the CLI persists is unpersisted on exit, so a second
    run in the same session recomputes instead of reusing stale blocks."""
    assert cli_run_ledger["cached_after"] == cli_run_ledger["cached_before"]


def test_cli_job_budget(cli_run_ledger):
    n_jobs = len(cli_run_ledger["jobs"])
    assert n_jobs <= CLI_JOB_BUDGET, f"{n_jobs} jobs > audited budget {CLI_JOB_BUDGET}"
