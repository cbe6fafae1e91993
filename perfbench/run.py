#!/usr/bin/env python3
"""Benchmark harness for the engine: the CLI train job and a catalog pass.

Run from the repository root:

    python3 perfbench/run.py --workload train_job --seed 0 --seconds 15 --trace 0

Each invocation is one fresh process that runs one workload once, closed
loop with one client, at local[nproc]. It checks every output, writes a
stamped record under .perfbench_out/, and prints as its last stdout line
one JSON object: correct, attempted, failed and the metrics by name and
unit. With --trace 0 the metrics are the end-to-end ones from an untraced
run; with --trace 1 they are the per-layer ones named in BENCHMARK.json,
from a run with spans around the engine's public calls. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "flight_delay_prediction_using_pyspark_spark"

TRAIN_ROWS, SCORE_ROWS = 20_000, 5_000
# validation_rows of the train job at seed 0, measured on the engine at the
# commit that added this benchmark; the seed-independent check is the
# planted-signal envelope.
PINNED_VALIDATION_ROWS = {0: 1198}
GEN_REPEATS = 3

# Catalog pass, in a fixed order so that the cold-start costs of a fresh
# JVM fall on the same queries every run. It is sized to the run budget
# (see README.md) and holds one query per plan module: the co-purchase
# graph memo built under driver threads (triangle_stats), ANN top-k,
# Python-worker media decode, exact-hash dedup, and two TPC-H shapes.
CATALOG_QUERIES = [
    "pricing_summary",
    "tpch_q6_forecast_revenue",
    "dedup_exact_hash_stats",
    "copurchase_triangle_stats",
    "ann_cosine_topk",
    "media_decode_resize_stats",
]
WARMUP_QUERY = "open_orders_projection"


def _versions() -> dict:
    import pyspark

    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=60)
        java = out.stderr.splitlines()[0] if out.stderr else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        java = "unknown"
    return {"pyspark": pyspark.__version__, "java": java}


def _bench_env(work: str, nproc: int) -> None:
    """Keep every file Spark, PySpark and DuckDB write inside `work`, and
    give the session the benchmark's conf."""
    from spans import BENCH_CONF

    os.environ["TMPDIR"] = work
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    conf = dict(BENCH_CONF)
    conf["spark.local.dir"] = os.path.join(work, "spark-local")
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    args = " ".join(f"--conf {k}={v}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"{args} --driver-java-options -Djava.io.tmpdir={work} pyspark-shell"
    )


def _stop_jvm() -> None:
    """Stop the session and the driver JVM, and wait until it has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median_setup(fn) -> float:
    times = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _no_span(name: str, layer: str):
    return contextlib.nullcontext()


def _csv_rows(path: str) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f) - 1


# --------------------------------------------------------------------------
# train_job: one full CLI train + score run
# --------------------------------------------------------------------------


def _trace_train(tracer, state: dict) -> list:
    """Spans around the CLI's public calls; returns the patches to undo.

    The first prepare_data result is the frame the CLI persists next: the
    traced run materializes it here so the CSV decode and the dedup land
    on plans.prepare, not on the pipeline fit. The second prepare_data
    call opens the score path, which runs until the CLI stops its session;
    the stop hook reads Spark's records while they still exist."""
    import importlib

    from pyspark.sql import SparkSession

    from spans import SparkRest

    mods = {
        m: importlib.import_module(f"{PKG}.{m}")
        for m in ("session", "plans.prepare", "ml.pipeline", "ml.train", "sources.writers")
    }
    patches = []

    def patch(obj, attr, new):
        patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    patch(mods["session"], "get_spark", tracer.wrap(mods["session"].get_spark, "session"))
    prepare = mods["plans.prepare"].prepare_data
    calls = []

    def prepare_data(*args, **kwargs):
        calls.append(None)
        if len(calls) == 2:
            state["score_span"] = tracer.open("score", "app.cli.score")
        with tracer.span("prepare_data", "plans.prepare"):
            df = prepare(*args, **kwargs)
            if len(calls) == 1:
                df.persist().count()
        return df

    patch(mods["plans.prepare"], "prepare_data", prepare_data)
    build = mods["ml.pipeline"].build_feature_pipeline

    def build_feature_pipeline(*args, **kwargs):
        pipeline = build(*args, **kwargs)
        pipeline.fit = tracer.wrap(pipeline.fit, "ml.pipeline")
        return pipeline

    patch(mods["ml.pipeline"], "build_feature_pipeline", build_feature_pipeline)
    train = mods["ml.train"]
    patch(train, "train_decision_tree", tracer.wrap(train.train_decision_tree, "ml.train.fit"))
    patch(train, "evaluate_regression", tracer.wrap(train.evaluate_regression, "ml.train.evaluate"))
    writers = mods["sources.writers"]
    for name in ("write_parquet", "write_single_csv"):
        patch(writers, name, tracer.wrap(getattr(writers, name), "sources.writers"))
    stop = SparkSession.stop

    def traced_stop(self):
        with tracer.own_time():
            if "score_span" in state:
                tracer.close(state.pop("score_span"))
            rest = SparkRest(self)
            state["cached_mb"] = rest.cached_mb()
            state["jobs"], state["stages"] = rest.settled_records()
        stop(self)

    patch(SparkSession, "stop", traced_stop)
    return patches


def run_train_job(args, work: str, record: dict) -> dict:
    from inputs import flights_window, write_flights_bz2
    from procmon import TreeMonitor
    from spans import Tracer, layer_ledger

    lo, hi = flights_window(TRAIN_ROWS, args.seed)
    flights = os.path.join(work, "flights.csv.bz2")
    score = os.path.join(work, "score.csv.bz2")
    gen: dict = {}

    def make_inputs():
        gen["train"] = write_flights_bz2(lo, hi, flights, work)
        gen["score"] = write_flights_bz2(hi, hi + SCORE_ROWS, score, work)

    setup_s = _median_setup(make_inputs)
    record["setup_parts"] = {"inputs_s": setup_s}
    record["inputs"] = {"train_rows": [lo, hi], "score_rows": [hi, hi + SCORE_ROWS], **gen}

    from pyspark import SparkContext

    from flight_delay_prediction_using_pyspark_spark.app import cli

    # A fresh process holds no session, so no cached block can be reused.
    if SparkContext._active_spark_context is not None:
        raise RuntimeError("refusing to time: a Spark session already exists")
    tracer, state = (Tracer() if args.trace else None), {}
    patches = _trace_train(tracer, state) if tracer else []
    span = tracer.span if tracer else _no_span
    out = os.path.join(work, "out")
    argv = [flights, out, "--test-file", score]
    monitor = TreeMonitor()
    monitor.start()
    t0 = time.perf_counter()
    try:
        with span("run", "app.cli.run"):
            result = cli.run(argv)
        problems = []
    except Exception:  # a failed job counts as failed, like a failed query
        result, problems = None, [traceback.format_exc(limit=3)]
    finally:
        wall_s = time.perf_counter() - t0
        usage = monitor.stop()
        for obj, attr, orig in reversed(patches):
            setattr(obj, attr, orig)
    record["result"] = result
    if result is not None:
        problems = _check_train(result, gen["train"]["arrdelay_stddev"], args.seed, out)
    record["problems"] = problems
    outcome = {
        "attempted": 1, "failed": int(bool(problems)),
        "wall_s": wall_s, "cpu_s": usage["cpu_s"], "setup_s": setup_s,
        "peak_rss_mb": usage["peak_rss_mb"],
    }
    if tracer:
        ledger = layer_ledger(tracer.spans, state.get("jobs", []), state.get("stages", []))
        ledger["cached_mb"] = state.get("cached_mb", 0.0)
        outcome["ledger"] = ledger
        outcome["overhead_s"] = tracer.overhead_s
        record["spans"] = tracer.spans
    return outcome


def _check_train(result: dict, stddev: float, seed: int, out: str) -> list[str]:
    """The soak test's planted-signal envelope, the pinned split size at
    seed 0, and the sinks' row counts."""
    problems = []
    if not result["mae"] < stddev / 4:
        problems.append(f"mae {result['mae']} outside the planted-signal envelope {stddev / 4}")
    if not result["rmse"] >= result["mae"]:
        problems.append("rmse < mae")
    if not result["validation_rows"] > 0.05 * TRAIN_ROWS:
        problems.append(f"validation_rows {result['validation_rows']} below 5% of input")
    pinned = PINNED_VALIDATION_ROWS.get(seed)
    if pinned is not None and result["validation_rows"] != pinned:
        problems.append(f"validation_rows {result['validation_rows']} != pinned {pinned}")
    if _csv_rows(os.path.join(out, "predictions.csv")) != result["validation_rows"]:
        problems.append("predictions.csv row count != validation_rows")
    if not result.get("test_rows") or _csv_rows(
        os.path.join(out, "test_predictions.csv")
    ) != result["test_rows"]:
        problems.append("test_predictions.csv row count != test_rows")
    for sink in ("predictions.parquet", "test_predictions.parquet"):
        if not os.path.exists(os.path.join(out, sink, "_SUCCESS")):
            problems.append(f"{sink} not written")
    return problems


# --------------------------------------------------------------------------
# catalog_llm: one pass over the query list in a warmed session
# --------------------------------------------------------------------------


def run_catalog(args, work: str, record: dict) -> dict:
    from inputs import CATALOG_ROWS, write_catalog
    from procmon import TreeMonitor
    from spans import SparkRest, Tracer, layer_ledger

    data = os.path.join(work, "catalog")
    gen_s = _median_setup(lambda: write_catalog(data, args.seed))
    order = CATALOG_QUERIES
    record["inputs"] = {"tables": CATALOG_ROWS, "order": order}

    from flight_delay_prediction_using_pyspark_spark.plans.queries import ORACLES, QUERIES
    from flight_delay_prediction_using_pyspark_spark.session import get_spark

    tracer = Tracer() if args.trace else None
    span = tracer.span if tracer else _no_span
    t0 = time.perf_counter()
    with span("get_spark", "session"):
        spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with span(WARMUP_QUERY, "warmup"):
        warm = QUERIES[WARMUP_QUERY](spark, data).toPandas()
    warmup_s = time.perf_counter() - t0
    record["setup_parts"] = {"inputs_s": gen_s, "session_s": session_s, "warmup_s": warmup_s}
    if spark.sparkContext._jsc.getPersistentRDDs().size() > 0:
        raise RuntimeError("refusing to time: the session already holds cached blocks")
    rest = SparkRest(spark) if tracer else None
    if rest:
        rest.cached_mb()  # the REST server's first answer is slow; keep it out of the pass

    results, errors, per_query, cached = {}, {}, {}, []
    monitor = TreeMonitor()
    monitor.start()
    t_pass = time.perf_counter()
    for name in order:
        fn = QUERIES[name]
        layer = fn.__module__.removeprefix(f"{PKG}.")  # the query's plan module
        t0 = time.perf_counter()
        try:
            with span(name, layer):
                with span("build", layer):
                    df = fn(spark, data)
                with span("collect", layer):
                    results[name] = df.toPandas()
        except Exception:  # one failed query must not stop the pass
            errors[name] = traceback.format_exc(limit=3)
        per_query[name] = time.perf_counter() - t0
        if tracer:
            with tracer.own_time():
                cached.append(rest.cached_mb())
    wall_s = time.perf_counter() - t_pass
    usage = monitor.stop()
    record["per_query_s"] = per_query

    from tests.oracle_util import compare_frames, duckdb_connection

    t0 = time.perf_counter()
    con = duckdb_connection(data)
    try:
        for name, pdf in [(WARMUP_QUERY, warm), *results.items()]:
            problems = compare_frames(pdf, con.execute(ORACLES[name]).fetchdf())
            if problems:
                errors[name] = "; ".join(problems)
    finally:
        con.close()
    record["check_s"] = time.perf_counter() - t0
    record["problems"] = errors
    outcome = {
        "attempted": len(order), "failed": len(set(errors) & set(order)),
        "wall_s": wall_s, "cpu_s": usage["cpu_s"],
        "setup_s": gen_s + session_s + warmup_s,
        "peak_rss_mb": usage["peak_rss_mb"],
    }
    if WARMUP_QUERY in errors:
        raise RuntimeError(f"warm-up query failed: {errors[WARMUP_QUERY]}")
    if tracer:
        jobs, stages = rest.settled_records()
        ledger = layer_ledger(tracer.spans, jobs, stages)
        ledger["cached_mb"] = cached[-1]
        record["cached_mb_after_each"] = dict(zip(order, cached))
        outcome["ledger"] = ledger
        outcome["overhead_s"] = tracer.overhead_s
        record["spans"] = tracer.spans
    return outcome


WORKLOADS = {"train_job": run_train_job, "catalog_llm": run_catalog}


def _layer_metrics(outcome: dict, wanted: list[dict]) -> dict:
    """Every per-layer metric BENCHMARK.json names; a layer the workload
    does not reach reads 0."""
    ledger = outcome["ledger"]
    special = {
        "session.peak_rss_mb": outcome["peak_rss_mb"],
        "storage.cached_mb": ledger["cached_mb"],
        "trace.overhead_s": outcome["overhead_s"],
        "trace.wall_s": outcome["wall_s"],
    }
    out = {}
    for m in wanted:
        layer, _, metric = m["name"].rpartition(".")
        value = special.get(m["name"], ledger["layers"].get(layer, {}).get(metric, 0.0))
        out[m["name"]] = {"value": value, "unit": m["unit"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0,
                    help="nominal length of the timed region; each workload's unit is sized to it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, ROOT]
    try:
        __import__(f"{PKG}.app.cli")
        __import__("tests.oracle_util")
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from procmon import cpu_counters, loadavg, steal_since

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    _bench_env(work, nproc)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": nproc, **_versions(),
        "loadavg_start": loadavg(), "started": time.time(),
    }
    cpu_start = cpu_counters()
    try:
        outcome = WORKLOADS[args.workload](args, work, record)
    finally:
        t0 = time.perf_counter()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        record["teardown_s"] = time.perf_counter() - t0
    record.update(steal_since(cpu_start))
    record["outcome"] = {k: v for k, v in outcome.items() if k != "ledger"}
    record["error_rate"] = outcome["failed"] / outcome["attempted"]
    correct = outcome["failed"] == 0
    if args.trace:
        ledger = outcome["ledger"]
        record["ledger"] = ledger
        attributed = ledger["jobs_attributed"] == ledger["jobs_total"] and ledger["jobs_retained_all"]
        if not attributed:
            record["problems_trace"] = "jobs outside every operation span, or jobs not retained"
        correct = correct and attributed
        metrics = _layer_metrics(outcome, spec["per_layer"])
    else:
        metrics = {
            m["name"]: {"value": outcome[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    if outcome["wall_s"] < args.seconds:
        print(f"perfbench: timed region {outcome['wall_s']:.1f}s is shorter than "
              f"--seconds {args.seconds}", file=sys.stderr)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(record['started'])}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    stamp = {k: record[k] for k in ("nproc", "pyspark", "java", "seed", "loadavg_start",
                                    "steal_s", "steal_share")}
    print("perfbench stamp:", json.dumps({**stamp, "inputs": record["inputs"]}))
    print(json.dumps({
        "correct": correct, "attempted": outcome["attempted"],
        "failed": outcome["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
